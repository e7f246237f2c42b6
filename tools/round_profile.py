#!/usr/bin/env python3
"""Per-round driver-overhead profile of the crawl engine.

    python tools/round_profile.py --rounds 4 --round-size 2000 --exact-claim

Crawls the seeded synthetic corpus (``sources/corpus_spark``) with one
``EngineConfig`` in a fresh session and prints one line per round:

* ``wall_s``: the round's wall time; ``busy_s``: the part of it covered by
  at least one running Spark job; ``driver_s``: the rest, where only the
  driver works (planning, codegen, file listing, commits);
* ``jobs``: Spark jobs launched by the round;
* ``infer``: of those, Parquet schema-inference jobs (a footer read a
  schema-carrying read avoids);
* ``compiles``: generated classes compiled with Janino
  (``CodegenMetrics.METRIC_COMPILATION_TIME`` count).

Jobs come from Spark's status store (kept with the UI off); ``--json``
prints one JSON object per round instead of the table.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)


def _jobs_after(spark, last_id: int) -> list[dict]:
    """Jobs with an id above ``last_id``: id, [start, end] ms, and whether
    the job is a Parquet schema inference (its single stage was submitted
    by ``DataFrameReader.parquet``)."""
    store = spark.sparkContext._jsc.sc().statusStore()
    seq = store.jobsList(None)
    out = []
    for i in range(seq.size()):
        j = seq.apply(i)
        if j.jobId() <= last_id:
            continue
        stages = [int(x) for x in j.stageIds().mkString(",").split(",") if x]
        infer = False
        if len(stages) == 1:
            details = store.lastStageAttempt(stages[0]).details()
            infer = "DataFrameReader.parquet" in details.split("\n", 1)[0]
        end = j.completionTime()
        out.append({"id": j.jobId(), "infer": infer,
                    "start": j.submissionTime().get().getTime(),
                    "end": end.get().getTime() if end.isDefined() else None})
    return out


def _busy_s(jobs: list[dict]) -> float:
    """Length of the union of the jobs' [start, end] intervals."""
    total, reach = 0, None
    for lo, hi in sorted((j["start"], j["end"]) for j in jobs if j["end"]):
        lo = lo if reach is None else max(lo, reach)
        total += max(hi - lo, 0)
        reach = hi if reach is None else max(reach, hi)
    return total / 1000.0


def profile(spark, eng, rounds: int) -> list[dict]:
    """Run up to ``rounds`` rounds of ``eng``; one profile row per round."""
    compiles = (spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
                .METRIC_COMPILATION_TIME())
    last_job = max([j["id"] for j in _jobs_after(spark, -1)], default=-1)
    rows = []
    for _ in range(rounds):
        c0 = compiles.getCount()
        t0 = time.perf_counter()
        res = eng.run_round()
        wall = time.perf_counter() - t0
        if not res:
            break
        jobs = _jobs_after(spark, last_job)
        last_job = max([j["id"] for j in jobs], default=last_job)
        busy = _busy_s(jobs)
        rows.append({
            "round": res["round"], "wall_s": round(wall, 3),
            "busy_s": round(busy, 3), "driver_s": round(wall - busy, 3),
            "jobs": len(jobs), "infer": sum(j["infer"] for j in jobs),
            "compiles": compiles.getCount() - c0,
            "claimed": res["claimed"], "deduped": res["deduped"],
        })
    return rows


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--rounds", type=int, default=4)
    ap.add_argument("--round-size", type=int, default=2000)
    ap.add_argument("--exact-claim", action="store_true")
    ap.add_argument("--pages", type=int, default=20_000)
    ap.add_argument("--hosts", type=int, default=16)
    ap.add_argument("--seeds", type=int, default=2000)
    ap.add_argument("--seed", type=int, default=1234)
    ap.add_argument("--cpus", type=int, default=4)
    ap.add_argument("--driver-mem", default="2g")
    ap.add_argument("--json", action="store_true")
    args = ap.parse_args(argv)

    os.environ["SPARK_DRIVER_MEM"] = args.driver_mem
    # the Python workers import the package too
    os.environ["PYTHONPATH"] = os.pathsep.join(
        filter(None, [ROOT, os.environ.get("PYTHONPATH")]))
    from crawler4j_spark.plans.engine import CrawlEngine, EngineConfig
    from crawler4j_spark.plans.refsim import SimConfig
    from crawler4j_spark.session import get_spark
    from crawler4j_spark.sources.corpus_spark import (
        bench_robots, bench_seeds, generate_corpus_spark)

    spark = get_spark("round-profile", master=f"local[{args.cpus}]",
                      shuffle_partitions=args.cpus,
                      extra_conf={"spark.ui.showConsoleProgress": "false",
                                  "spark.ui.retainedJobs": "100000",
                                  "spark.ui.retainedStages": "100000"})
    store = tempfile.mkdtemp(prefix="round-profile-")
    try:
        corpus = generate_corpus_spark(spark, n_pages=args.pages,
                                       n_hosts=args.hosts, seed=args.seed)
        cfg = EngineConfig(
            sim=SimConfig(max_depth=8, politeness_ms=50), n_seen_buckets=16,
            round_size=args.round_size, exact_claim=args.exact_claim,
            expected_urls_per_bucket=max(args.pages // 16, 10_000),
            mint_buckets=4, dense_seq_distributed=True)
        eng = CrawlEngine(spark, store, corpus,
                          bench_robots(spark, args.hosts), cfg)
        eng.add_seeds(bench_seeds(args.pages, args.hosts, 1.1, args.seeds))
        rows = profile(spark, eng, args.rounds)
    finally:
        shutil.rmtree(store, ignore_errors=True)
        spark.stop()
    if rows and not args.json:
        print(" ".join(f"{c:>9}" for c in rows[0]))
    for r in rows:
        print(json.dumps(r) if args.json
              else " ".join(f"{v:>9}" for v in r.values()))
    return 0


if __name__ == "__main__":
    sys.exit(main())
