"""Span recorder for the traced benchmark run.

Spans are recorded from the benchmark's side of the program's public
interface: ``install`` wraps the public methods of ``CrawlEngine`` and
``SnapshotStore`` (the workload code adds spans around analytics queries),
so the program itself is not modified. Each span has a name, start, end,
its parent span and the group (round or pass id) it ran in; staging and
manifest spans also carry the rows and bytes they moved. Spans stay in
memory and are written out once, when the run ends.

``spark_readout`` reads the jobs and stages launched inside the traced
spans from Spark's application status store, which is populated with the
UI disabled, and attributes them to the engine's round phases.
"""

from __future__ import annotations

import functools
import json
import os
import time
from contextlib import contextmanager

PHASES = ("claim_slots", "fetch", "parse_candidates", "dedup_mint",
          "gates_admit", "bloom_update", "frontier_rewrite", "round_state")


class SpanRecorder:
    def __init__(self) -> None:
        self.spans: list[dict] = []
        self.group: str | None = None
        self._stack: list[int] = []
        self.overhead_s = 0.0  # recorder bookkeeping time inside spans

    @contextmanager
    def span(self, name: str, group: str | None = None):
        """Record a span; ``group`` (a round or crawl id) also applies to
        the spans nested inside it."""
        b0 = time.perf_counter()
        outer_group = self.group
        if group is not None:
            self.group = group
        sid = len(self.spans)
        rec = {"id": sid, "name": name,
               "parent": self._stack[-1] if self._stack else None,
               "group": self.group, "start": time.time(), "end": None}
        self.spans.append(rec)
        self._stack.append(sid)
        self.overhead_s += time.perf_counter() - b0
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            self.group = outer_group

    def totals(self) -> dict[str, dict]:
        """Per span name: calls, total seconds and self seconds (duration
        minus the time its child spans cover)."""
        child_time = [0.0] * len(self.spans)
        for s in self.spans:
            if s["parent"] is not None and s["end"] is not None:
                child_time[s["parent"]] += s["end"] - s["start"]
        out: dict[str, dict] = {}
        for s in self.spans:
            if s["end"] is None:
                continue
            d = s["end"] - s["start"]
            t = out.setdefault(s["name"], {"calls": 0, "s": 0.0, "self_s": 0.0})
            t["calls"] += 1
            t["s"] += d
            t["self_s"] += d - child_time[s["id"]]
        return out

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump({"spans": self.spans, "totals": self.totals()}, f)


def _wrap(rec: SpanRecorder, cls, method: str, name: str, after=None,
          group_fn=None):
    orig = getattr(cls, method)

    @functools.wraps(orig)
    def wrapper(self, *args, **kwargs):
        group = group_fn(self) if group_fn else None
        with rec.span(name, group) as sp:
            result = orig(self, *args, **kwargs)
        if after is not None:
            b0 = time.perf_counter()
            after(self, result, sp)
            rec.overhead_s += time.perf_counter() - b0
        return result

    setattr(cls, method, wrapper)
    return orig


def install(rec: SpanRecorder):
    """Wrap the engine's and the snapshot store's public calls; returns a
    function that restores the originals."""
    from crawler4j_spark.plans.engine import CrawlEngine
    from crawler4j_spark.sources.tableio import SnapshotStore

    def staged(store, entries, sp):
        sp["rows"] = sum(e.get("rows", 0) for e in entries)
        sp["bytes"] = sum(os.path.getsize(os.path.join(store.root, e["path"]))
                          for e in entries)

    def manifest_read(store, _m, sp):
        with open(store._current_path) as f:
            name = f.read().strip()
        sp["bytes"] = os.path.getsize(os.path.join(store.root, "_manifests", name))

    def round_done(eng, result, sp):
        sp["result"] = {k: v for k, v in (result or {}).items()
                        if k in ("round", "claimed", "deduped", "admitted",
                                 "visited", "jobs", "phases", "phase_jobs",
                                 "wall_sec")}

    saved = [
        (CrawlEngine, "__init__", _wrap(rec, CrawlEngine, "__init__",
                                        "engine.init")),
        (CrawlEngine, "add_seeds", _wrap(rec, CrawlEngine, "add_seeds",
                                         "engine.add_seeds")),
        (CrawlEngine, "run_round", _wrap(
            rec, CrawlEngine, "run_round", "engine.run_round", round_done,
            group_fn=lambda eng: (f"{os.path.basename(eng.store.root)}"
                                  f"/round-{eng.round + 1}"))),
        (SnapshotStore, "stage_dataframe", _wrap(
            rec, SnapshotStore, "stage_dataframe", "tableio.stage", staged)),
        (SnapshotStore, "commit", _wrap(rec, SnapshotStore, "commit",
                                        "tableio.commit")),
        (SnapshotStore, "manifest", _wrap(rec, SnapshotStore, "manifest",
                                          "tableio.manifest", manifest_read)),
        (SnapshotStore, "read", _wrap(rec, SnapshotStore, "read",
                                      "tableio.read")),
        (SnapshotStore, "files_overlapping_head", _wrap(
            rec, SnapshotStore, "files_overlapping_head",
            "tableio.head_select")),
        (SnapshotStore, "gc_unreferenced", _wrap(
            rec, SnapshotStore, "gc_unreferenced", "tableio.gc")),
    ]

    def restore() -> None:
        for cls, method, orig in saved:
            setattr(cls, method, orig)

    return restore


# ------------------------------------------------------ status-store readout


def _jobs(spark) -> list[dict]:
    store = spark.sparkContext._jsc.sc().statusStore()
    seq = store.jobsList(None)
    out = []
    for i in range(seq.size()):
        j = seq.apply(i)
        sub = j.submissionTime()
        group = j.jobGroup()
        out.append({
            "id": j.jobId(),
            "group": group.get() if group.isDefined() else None,
            "submitted": sub.get().getTime() / 1000.0 if sub.isDefined() else None,
            "stages": [int(x) for x in j.stageIds().mkString(",").split(",") if x],
        })
    return sorted(out, key=lambda j: j["id"])


def _stage_totals(spark, stage_ids, seen: set) -> dict[str, float]:
    store = spark.sparkContext._jsc.sc().statusStore()
    t = {"cpu_s": 0.0, "shuffle_bytes": 0, "tasks": 0, "task_failures": 0,
         "spill_bytes": 0, "gc_s": 0.0}
    for sid in stage_ids:
        if sid in seen:
            continue
        seen.add(sid)
        s = store.lastStageAttempt(sid)
        t["cpu_s"] += s.executorCpuTime() / 1e9
        t["shuffle_bytes"] += s.shuffleWriteBytes()
        t["tasks"] += s.numCompleteTasks() + s.numFailedTasks()
        t["task_failures"] += s.numFailedTasks()
        t["spill_bytes"] += s.diskBytesSpilled()
        t["gc_s"] += s.jvmGcTime() / 1000.0
    return t


def spark_readout(spark, rec: SpanRecorder, window_spans: list[dict]) -> dict:
    """Stage metrics of the jobs submitted inside ``window_spans`` (the
    measured region), in total and per round phase. A round's jobs run in
    the engine's per-round job group in submission order, and the round
    result says how many jobs each phase launched, so the k-th block of
    the round's jobs belongs to the k-th phase; jobs after the last phase
    belong to the commit tail."""
    jobs = _jobs(spark)

    def within(j, s):
        return j["submitted"] is not None and s["start"] <= j["submitted"] <= s["end"]

    seen: set = set()
    per_phase = {p: {"cpu_s": 0.0, "shuffle_bytes": 0} for p in PHASES}
    for sp in rec.spans:
        if sp["name"] != "engine.run_round" or not sp.get("result"):
            continue
        if not any(sp["start"] >= w["start"] and sp["end"] <= w["end"]
                   for w in window_spans):
            continue
        rjobs = [j for j in jobs if within(j, sp)
                 and (j["group"] or "").startswith("crawl-round-")]
        pos = 0
        for phase, n in sp["result"]["phase_jobs"].items():
            block = rjobs[pos:pos + n]
            pos += n
            if phase in per_phase:
                t = _stage_totals(
                    spark, [s for j in block for s in j["stages"]], seen)
                per_phase[phase]["cpu_s"] += t["cpu_s"]
                per_phase[phase]["shuffle_bytes"] += t["shuffle_bytes"]
    seen = set()
    in_window = [j for j in jobs if any(within(j, w) for w in window_spans)]
    total = _stage_totals(spark, [s for j in in_window for s in j["stages"]],
                          seen)
    return {"total": total, "phases": per_phase}
