"""A crawl round behaves well inside a caller's session: it frees exactly
the cached frames and broadcasts it created, and it reuses the generated
classes of earlier rounds instead of compiling them again."""

import json
import os
import subprocess
import sys

from pyspark import StorageLevel

from crawler4j_spark.plans import engine as engine_mod
from crawler4j_spark.plans.engine import CrawlEngine
from crawler4j_spark.sources.corpus import CorpusSpec, generate_corpus
from tests.conftest import make_corpus_dfs
from tests.test_resume import _cfg

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_round_keeps_callers_cache_and_frees_its_own(spark, tmp_path,
                                                      monkeypatch):
    broadcasts = []
    split = engine_mod.split_new_vs_maybe_seen

    def recording(*args, broadcasts_out=None, **kwargs):
        out = split(*args, broadcasts_out=broadcasts_out, **kwargs)
        broadcasts.extend(broadcasts_out or [])
        return out

    monkeypatch.setattr(engine_mod, "split_new_vs_maybe_seen", recording)
    gen = generate_corpus(CorpusSpec(n_pages=80, n_hosts=4, seed=55))
    corpus_df, robots_df = make_corpus_dfs(spark, gen)
    eng = CrawlEngine(spark, str(tmp_path / "h"), corpus_df, robots_df,
                      _cfg())
    eng.add_seeds(gen.seeds)

    cache = spark._jsparkSession.sharedState().cacheManager()
    spark.catalog.clearCache()  # this caller starts from an empty cache
    mine = spark.range(100).selectExpr("id * 3 as v").persist()
    assert mine.count() == 100
    for _ in range(2):
        assert eng.run_round()
        assert mine.storageLevel != StorageLevel.NONE
    assert mine.agg({"v": "sum"}).first()[0] == 3 * 99 * 100 // 2

    # nothing of the rounds' own stays cached or broadcast
    mine.unpersist(blocking=True)
    assert cache.isEmpty()
    assert broadcasts
    assert not any(bc._jbroadcast.isValid() for bc in broadcasts)


def test_codegen_cache_holds_a_round(spark):
    """The session's generated-class cache holds a whole round, so round 2
    of a fresh JVM compiles at most a quarter of what round 1 compiled
    (with Spark's default 100-entry cache every round recompiled about 175
    classes)."""
    assert int(spark.conf.get("spark.sql.codegen.cache.maxEntries")) >= 500
    out = subprocess.run(
        [sys.executable, os.path.join(ROOT, "tools", "round_profile.py"),
         "--rounds", "2", "--pages", "3000", "--hosts", "12", "--seeds", "60",
         "--round-size", "500", "--exact-claim", "--cpus", "2",
         "--driver-mem", "1g", "--json"],
        capture_output=True, text=True, timeout=600, cwd=ROOT)
    assert out.returncode == 0, out.stderr[-2000:]
    rounds = [json.loads(line) for line in out.stdout.splitlines()
              if line.startswith("{")]
    assert [r["round"] for r in rounds] == [1, 2]
    first, second = rounds[0]["compiles"], rounds[1]["compiles"]
    assert first >= 100, rounds
    assert second * 4 <= first, rounds
    # every read of the rounds uses the schema recorded at staging
    assert [r["infer"] for r in rounds] == [0, 0], rounds
