"""One benchmark run in a fresh JVM: ``python -m perfbench.worker``.

Started by ``perfbench/run.py``, which pins the CPUs, gives the run a private
scratch directory, samples the process tree's memory and prints the final
result line. This module runs the workload, checks its outputs outside every
timed region, and writes its metrics as JSON to ``--out``.
"""

from __future__ import annotations

import argparse
import dataclasses
import json
import os
import shutil
import statistics
import sys
import time
import traceback

from perfbench import inputs
from perfbench.trace import PHASES, SpanRecorder, install, spark_readout

HERE = os.path.dirname(os.path.abspath(__file__))

# Engine knobs per workload. Both crawl the same corpus from the same 12k
# seeds with bench.py's knobs at local[4] (depth limit 8, 50 ms politeness);
# they differ in claim mode and size. Both are sized so that what a round
# processes is a large random sample of the corpus, so the work per run is
# nearly the same for every --seed.
# frontier_default: head-file claim with no size limit, so each round claims
#   the whole frontier: round r processes breadth-first level r (the seeds,
#   then ~76k pages). Mostly per-row work: parse, fetch, dedup/mint. Two
#   rounds fit the time budget.
# small_rounds: the reference-parity exact top-K claim at 2k URLs/round; its
#   three rounds claim 6k of the 12k seeds. Mostly per-round fixed cost: jobs,
#   stagings, manifest I/O, commit, the corpus scan in fetch; and many small
#   commits in the snapshot store.
WORKLOADS = {
    "frontier_default": {
        "full": dict(round_size=10_000_000, rounds=2, exact_claim=False),
        "tiny": dict(round_size=10_000_000, rounds=3, exact_claim=False),
    },
    "small_rounds": {
        "full": dict(round_size=2_000, rounds=3, exact_claim=True),
        "tiny": dict(round_size=20, rounds=3, exact_claim=True),
    },
}
MAX_DEPTH = 8
WARM_UP_CLAIM = 2_000


def report(line: str) -> None:
    print(f"[perfbench] {line}", flush=True)


def load_expected(workload: str, scale: str, seed: int) -> dict | None:
    with open(os.path.join(HERE, "expected.json")) as f:
        return json.load(f).get(workload, {}).get(scale, {}).get(str(seed))


def _check_crawl(eng, rounds: list[dict], n_rounds: int,
                 expected: dict | None) -> tuple[dict, list[str]]:
    """Checks one crawl's outputs; returns (observed values, problems)."""
    from pyspark.sql import functions as F

    problems = []
    obs = {
        "claimed": sum(r["claimed"] for r in rounds),
        "deduped": sum(r["deduped"] for r in rounds),
        "scheduled": sum(r["admitted"] for r in rounds),
        "round_claimed": [r["claimed"] for r in rounds],
    }
    st = eng.store.read("seen").agg(
        F.count("*").alias("n"),
        F.countDistinct("url").alias("urls"),
        F.countDistinct("docid").alias("docids"),
        F.min("docid").alias("lo"), F.max("docid").alias("hi"),
        F.bit_xor(F.xxhash64("url", "docid")).alias("digest"),
    ).collect()[0].asDict()
    obs["seen"] = st["n"]
    obs["seen_digest"] = st["digest"]
    if not (st["n"] == st["urls"] == st["docids"]):
        problems.append(f"seen has repeated urls or docids: {st}")
    if st["lo"] != 1 or st["hi"] != st["n"] or st["hi"] != eng.last_docid:
        problems.append(f"docids are not exactly 1..{eng.last_docid}: {st}")
    counters = {r["counter"]: r["v"] for r in eng.metrics().groupBy("counter")
                .agg(F.sum("value").alias("v")).collect()}
    for counter, key in (("scheduled_pages", "admitted"),
                         ("processed_pages", "claimed"),
                         ("minted_docids", "minted"),
                         ("visited_pages", "visited"),
                         ("deduped_candidates", "deduped")):
        total = sum(r[key] for r in rounds)
        if counters.get(counter) != total:
            problems.append(f"metrics() {counter}={counters.get(counter)} "
                            f"!= sum of the rounds' {key} {total}")
    if len(rounds) != n_rounds:
        problems.append(f"{len(rounds)} rounds ran, not {n_rounds}")
    if expected is not None:
        for k, v in expected.items():
            if obs.get(k) != v:
                problems.append(f"{k}={obs.get(k)} != recorded {v}")
    return obs, problems


def crawl_workload(spark, args, rec) -> dict:
    from crawler4j_spark.plans.engine import CrawlEngine, EngineConfig
    from crawler4j_spark.plans.refsim import SimConfig

    knobs = WORKLOADS[args.workload][args.scale]
    n_pages = inputs.CORPUS_SPECS[args.scale]["n_pages"]
    robots_rows, seeds = inputs.robots_and_seeds(args.scale)
    corpus_df = spark.read.parquet(args.corpus)
    robots_df = spark.createDataFrame(robots_rows, "host string, body string")
    # bench.py's knobs at local[4], fixed so that the crawl does the same
    # work whatever the core count
    cfg = EngineConfig(
        sim=SimConfig(max_depth=MAX_DEPTH, politeness_ms=50),
        round_size=knobs["round_size"],
        n_seen_buckets=16,
        expected_urls_per_bucket=max(n_pages // 16, 10_000),
        mint_buckets=4,
        exact_claim=knobs["exact_claim"],
        dense_seq_distributed=True,
    )
    expected = load_expected(args.workload, args.scale, args.seed)
    setups: list[tuple[float, float]] = []
    crawls: list[dict] = []
    problems: list[str] = []
    attempted = failed = 0
    checks_s = 0.0

    def setup(i, config=cfg):
        store = os.path.join(args.scratch, f"store-{i}")
        t0 = time.perf_counter()
        eng = CrawlEngine(spark, store, corpus_df, robots_df, config)
        t1 = time.perf_counter()
        eng.add_seeds(seeds)
        setups.append((t1 - t0, time.perf_counter() - t1))
        return eng, store

    # A set-up only repetition (setup_s is a median over the set-ups) that
    # also runs one untimed warm-up round: in a new JVM the first crawl's
    # rounds run up to 1.7x slower while their code is compiled. The warm-up
    # round claims about 2k URLs, the cheapest round that runs every phase.
    eng, store = setup(0, dataclasses.replace(cfg, round_size=WARM_UP_CLAIM))
    attempted += 1
    t_warm = time.perf_counter()
    try:
        eng.run_round()
    except Exception:
        traceback.print_exc()
        failed += 1
        problems.append("the warm-up round raised")
    warm_s = time.perf_counter() - t_warm
    shutil.rmtree(store, ignore_errors=True)
    # whole crawls until --seconds of crawling are measured (at least one)
    measured = 0.0
    while not crawls or measured < args.seconds:
        eng, store = setup(1 + len(crawls))
        attempted += knobs["rounds"]
        done_before = eng.round
        try:
            with rec.span("engine.crawl", group=f"crawl-{len(crawls)}") as sp:
                t0 = time.perf_counter()
                rounds = eng.crawl(max_rounds=knobs["rounds"])
                wall = time.perf_counter() - t0
        except Exception:
            traceback.print_exc()
            failed += knobs["rounds"] - (eng.round - done_before)
            problems.append("a crawl round raised")
            break
        measured += wall
        t_check = time.perf_counter()
        obs, probs = _check_crawl(eng, rounds, knobs["rounds"], expected)
        checks_s += time.perf_counter() - t_check
        if crawls and {k: obs[k] for k in crawls[0]["obs"]} != crawls[0]["obs"]:
            probs.append(f"crawl {len(crawls)} differs from the first: {obs}")
        problems += probs
        # the snapshot's live files, without the engine's copy of the corpus
        live = [e for t, v in eng.store.manifest()["tables"].items()
                if t != "corpus" for e in v["files"]]
        crawls.append({
            "obs": obs, "wall": wall, "rounds": rounds, "span": sp,
            "bytes": sum(os.path.getsize(os.path.join(store, e["path"]))
                         for e in live),
            "live_files": len(live),
        })
        shutil.rmtree(store, ignore_errors=True)

    res = {"attempted": attempted, "failed": failed, "problems": problems,
           "e2e": {}, "layer": {}}
    if not crawls:
        return res
    for c in crawls:
        o = c["obs"]
        report(f"observed: {json.dumps(o)}")
        report(f"crawl {o['claimed']} claimed, {o['deduped']} deduped, "
               f"{o['scheduled']} scheduled in {c['wall']:.2f} s; round walls "
               + " ".join(f"{r['wall_sec']:.2f}" for r in c["rounds"]))
    rounds = [r for c in crawls for r in c["rounds"]]
    round_p50 = statistics.median(r["wall_sec"] for r in rounds)
    urls_per_round = statistics.fmean(r["deduped"] + r["admitted"]
                                      for r in rounds)
    # one point of the per-round fixed-cost fit (perfbench/fit.py)
    report(f"fit-point {json.dumps({'workload': args.workload, 'round_s_p50': round_p50, 'urls_per_round': urls_per_round})}")
    setup_med = statistics.median(a + b for a, b in setups)
    res["e2e"] = {
        "urls_per_s": (statistics.median(
            (c["obs"]["deduped"] + c["obs"]["scheduled"]) / c["wall"]
            for c in crawls), "1/s"),
        "round_s_p50": (round_p50, "s"),
        "setup_s": (args.session_s + setup_med, "s"),
        "store_bytes_per_url": (statistics.median(
            c["bytes"] / c["obs"]["seen"] for c in crawls), "B"),
    }
    report(f"round_s_p50 is the median of {len(rounds)} rounds; setup_s is "
           f"session start + the median of {len(setups)} set-ups")
    report(f"run time: session {args.session_s:.1f} s, set-ups "
           f"{sum(a + b for a, b in setups):.1f} s, warm-up round {warm_s:.1f} s, "
           f"crawls {measured:.1f} s, "
           f"checks {checks_s:.1f} s")
    if args.trace:
        res["layer"] = _layers(spark, rec, crawls, setups, urls_per_round,
                               res["e2e"]["urls_per_s"][0])
        res["layer"]["session.start_s"] = (args.session_s, "s")
    return res


def _layers(spark, rec, crawls, setups, urls_per_round, traced_rate) -> dict:
    rounds = [r for c in crawls for r in c["rounds"]]
    n = len(crawls)

    def per_crawl(v):
        return v / n

    m = {
        "engine.init_s": (statistics.median(a for a, _ in setups), "s"),
        "engine.add_seeds_s": (statistics.median(b for _, b in setups), "s"),
        "engine.jobs_per_round": (
            statistics.fmean(r["jobs"] for r in rounds), "count"),
        "engine.urls_per_round": (urls_per_round, "count"),
        "engine.commit_tail_s": (per_crawl(sum(
            r["wall_sec"] - sum(r["phases"].values()) for r in rounds)), "s"),
        "engine.new_url_share": (
            sum(r["admitted"] for r in rounds)
            / max(sum(r["deduped"] for r in rounds), 1), "ratio"),
        "engine.fetch_hit_share": (
            sum(r["visited"] for r in rounds)
            / max(sum(r["claimed"] for r in rounds), 1), "ratio"),
        "tableio.live_files": (statistics.median(
            c["live_files"] for c in crawls), "count"),
        "trace.urls_per_s": (traced_rate, "1/s"),
        "trace.recorder_s": (rec.overhead_s, "s"),
    }
    for p in PHASES:
        m[f"engine.phase.{p}_s"] = (per_crawl(sum(
            r["phases"].get(p, 0.0) for r in rounds)), "s")
        m[f"engine.phase.{p}_jobs"] = (per_crawl(sum(
            r["phase_jobs"].get(p, 0) for r in rounds)), "count")
    # snapshot-store calls made inside the timed crawls (not the set-ups)
    windows = [c["span"] for c in crawls]
    by_name: dict[str, list[dict]] = {}
    for s in rec.spans:
        if s["end"] is not None and any(
                w["start"] <= s["start"] and s["end"] <= w["end"]
                for w in windows):
            by_name.setdefault(s["name"], []).append(s)

    def total(name, field=None):
        return per_crawl(sum((s["end"] - s["start"]) if field is None
                             else s.get(field, 0)
                             for s in by_name.get(name, [])))

    for key in ("stage", "commit", "manifest", "head_select", "gc"):
        m[f"tableio.{key}_s"] = (total(f"tableio.{key}"), "s")
    for key, name in (("stage_calls", "stage"), ("commit_calls", "commit"),
                      ("manifest_reads", "manifest")):
        m[f"tableio.{key}"] = (per_crawl(len(by_name.get(f"tableio.{name}", []))),
                               "count")
    m["tableio.staged_rows"] = (total("tableio.stage", "rows"), "count")
    m["tableio.staged_bytes"] = (total("tableio.stage", "bytes"), "B")
    m["tableio.manifest_bytes"] = (total("tableio.manifest", "bytes"), "B")
    sr = spark_readout(spark, rec, windows)
    for p in PHASES:
        m[f"spark.{p}.cpu_s"] = (per_crawl(sr["phases"][p]["cpu_s"]), "s")
        m[f"spark.{p}.shuffle_bytes"] = (
            per_crawl(sr["phases"][p]["shuffle_bytes"]), "B")
    t = sr["total"]
    m["spark.tasks"] = (per_crawl(t["tasks"]), "count")
    m["spark.task_failures"] = (per_crawl(t["task_failures"]), "count")
    m["spark.spill_bytes"] = (per_crawl(t["spill_bytes"]), "B")
    m["spark.gc_s"] = (per_crawl(t["gc_s"]), "s")
    return m


def main(argv=None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", choices=("full", "tiny"), default="full")
    ap.add_argument("--cpus", type=int, required=True)
    ap.add_argument("--scratch", required=True)
    ap.add_argument("--corpus", required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--trace-out", default=None)
    args = ap.parse_args(argv)

    t0 = time.perf_counter()
    from crawler4j_spark.session import get_spark

    spark = get_spark(
        f"perfbench-{args.workload}", master=f"local[{args.cpus}]",
        shuffle_partitions=args.cpus,
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": os.path.join(args.scratch, "local"),
            "spark.sql.warehouse.dir": os.path.join(args.scratch, "warehouse"),
            # a fixed-size heap (initial = max) so that peak memory does not
            # depend on when G1 decides to grow the heap; no hsperfdata file
            # in the system temp directory
            "spark.driver.extraJavaOptions":
                f"-Xms{os.environ['SPARK_DRIVER_MEM']} -XX:-UsePerfData "
                f"-Djava.io.tmpdir={os.path.join(args.scratch, 'tmp')}",
            # keep every job and stage of a run in the status store
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
        })
    args.session_s = time.perf_counter() - t0
    rec = SpanRecorder()
    restore = install(rec) if args.trace else (lambda: None)
    try:
        res = crawl_workload(spark, args, rec)
    finally:
        restore()
        spark.stop()
    if args.trace and args.trace_out:
        rec.dump(args.trace_out)
    for p in res["problems"]:
        report(f"CHECK FAILED: {p}")
    with open(args.out, "w") as f:
        json.dump(res, f)
    return 0


if __name__ == "__main__":
    sys.exit(main())
