"""SnapshotStore unit tests: atomic commits, file-stat head pruning, GC,
schema-carrying reads."""

import os
import shutil
import uuid

from crawler4j_spark.sources.tableio import SnapshotStore


def test_commit_add_remove_replace(spark, tmp_path):
    st = SnapshotStore(str(tmp_path / "s"), spark)
    a = st.stage_dataframe(spark.range(10).selectExpr("id", "id * 2 as v"))
    v1 = st.commit(adds={"t": a})
    assert v1 == 1
    assert st.row_count("t") == 10
    b = st.stage_dataframe(spark.range(5).selectExpr("id + 100 as id", "id as v"))
    st.commit(adds={"t": b})
    assert st.row_count("t") == 15
    st.commit(removes={"t": a})
    assert st.row_count("t") == 5
    st.commit(replaces={"t": a})
    assert st.row_count("t") == 10
    # props persist + update
    st.commit(props={"round": 7})
    assert st.props["round"] == 7


def test_head_pruning_by_stats(spark, tmp_path):
    st = SnapshotStore(str(tmp_path / "s2"), spark)
    entries = []
    # three files with disjoint (priority, depth, docid) ranges
    for base in (0, 1000, 2000):
        df = spark.range(base, base + 100).selectExpr(
            "cast(id / 1000 as int) as priority",
            "cast(id % 5 as int) as depth",
            "id as docid").coalesce(1)
        entries += st.stage_dataframe(
            df, stats_cols=["priority", "depth", "docid"])
    assert len(entries) == 3
    st.commit(replaces={"frontier": entries})
    head, rest = st.files_overlapping_head(
        "frontier", ["priority", "depth", "docid"], limit_rows=50)
    # the first file (priority 0) alone covers 50 rows; others pruned
    assert sum(e["rows"] for e in head) == 100
    assert len(rest) == 2
    got = st.read("frontier", files=head)
    assert got.agg({"priority": "max"}).collect()[0][0] == 0


def test_gc_and_atomicity(spark, tmp_path):
    st = SnapshotStore(str(tmp_path / "s3"), spark)
    a = st.stage_dataframe(spark.range(3))
    st.commit(adds={"t": a})
    orphan = st.stage_dataframe(spark.range(4))  # staged, never committed
    assert st.row_count("t") == 3
    removed = st.gc_unreferenced()
    assert removed >= len(orphan)
    # committed data survives GC
    assert st.read("t").count() == 3


def test_merged_read_widens_types_and_backfills(spark, tmp_path):
    """merge_schema=True unions file generations: columns added later read
    as null in old files, and int columns widened to bigint by a newer
    release (fetch_log.process_seq, round 5) read as bigint throughout."""
    st = SnapshotStore(str(tmp_path / "w"), spark)
    old = st.stage_dataframe(spark.range(3).selectExpr(
        "id", "CAST(id AS INT) AS process_seq"))
    new = st.stage_dataframe(spark.range(3, 6).selectExpr(
        "id", "CAST(id * 10 AS BIGINT) AS process_seq",
        "CAST(id AS STRING) AS extra"))
    st.commit(adds={"log": old + new})
    df = st.read("log", merge_schema=True)
    assert dict(df.dtypes)["process_seq"] == "bigint"
    rows = {r.id: (r.process_seq, r.extra) for r in df.collect()}
    assert rows[2] == (2, None) and rows[5] == (50, "5")
    # incompatible (non-promotable) types still fail loudly
    bad = st.stage_dataframe(spark.range(1).selectExpr(
        "id", "CAST(id AS STRING) AS process_seq"))
    st.commit(adds={"log": bad})
    try:
        st.read("log", merge_schema=True).collect()
        raise AssertionError("expected ValueError for string vs bigint")
    except ValueError as e:
        assert "process_seq" in str(e)


# -- schema-carrying reads ---------------------------------------------------


def _jobs_during(spark, fn):
    """(fn(), ids of the Spark jobs fn launched)."""
    sc = spark.sparkContext
    group = f"schema-read-{uuid.uuid4().hex[:8]}"
    sc.setJobGroup(group, group)
    out = fn()
    return out, list(sc.statusTracker().getJobIdsForGroup(group))


def _inferred(store, entries):
    return store.spark.read.parquet(
        *[os.path.join(store.root, e["path"]) for e in entries]).schema


def test_recorded_schema_equals_inferred_for_a_crawl(spark, tmp_path,
                                                     monkeypatch):
    """Every staging and every table a tiny crawl writes reads back with
    exactly the schema Spark infers from the files' footers."""
    from crawler4j_spark.plans.engine import CrawlEngine
    from crawler4j_spark.sources.corpus import CorpusSpec, generate_corpus
    from tests.conftest import make_corpus_dfs
    from tests.test_resume import _cfg

    stagings = []
    stage = SnapshotStore.stage_dataframe

    def recording(self, df, stats_cols=None):
        entries = stage(self, df, stats_cols)
        stagings.append(entries)
        return entries

    monkeypatch.setattr(SnapshotStore, "stage_dataframe", recording)
    gen = generate_corpus(CorpusSpec(n_pages=80, n_hosts=4, seed=55))
    corpus_df, robots_df = make_corpus_dfs(spark, gen)
    eng = CrawlEngine(spark, str(tmp_path / "crawl"), corpus_df, robots_df,
                      _cfg())
    eng.add_seeds(gen.seeds)
    eng.run_round()
    eng.run_round()
    store = eng.store

    written = [e for e in stagings if e]
    assert len(written) > 20
    for entries in written:
        assert len({e["schema_id"] for e in entries}) == 1
        inferred = _inferred(store, entries)
        # recorded as a Parquet read reports it: every field nullable
        assert store._schemas[entries[0]["schema_id"]] == inferred.json()
        assert store.read("any", files=entries).schema == inferred
    tables = store.manifest()["tables"]
    for table, v in tables.items():
        if v["files"]:
            assert store.read(table).schema == _inferred(store, v["files"])
    # the manifest maps exactly the ids that live entries reference
    live = {e["schema_id"] for v in tables.values() for e in v["files"]}
    assert set(store.manifest()["schemas"]) == live


def test_recorded_schema_read_launches_no_job(spark, tmp_path):
    st = SnapshotStore(str(tmp_path / "s"), spark)
    df = spark.range(10).selectExpr(
        "id", "cast(id as string) s", "array(id) a",
        "named_struct('x', id, 'm', map('k', id)) st")
    st.commit(adds={"t": st.stage_dataframe(df)})
    got, jobs = _jobs_during(spark, lambda: st.read("t"))
    assert jobs == []
    assert got.schema == _inferred(st, st.table_files("t"))
    assert got.count() == 10

    # a fresh store on the same root resolves the ids from the manifest
    fresh = SnapshotStore(st.root, spark)
    assert fresh._schemas == {}
    got, jobs = _jobs_during(spark, lambda: fresh.read("t"))
    assert jobs == []
    assert got.schema == _inferred(st, st.table_files("t"))
    assert set(fresh._schemas) == set(st.manifest()["schemas"])


def test_reads_without_a_usable_id_fall_back_to_inference(spark, tmp_path):
    st = SnapshotStore(str(tmp_path / "s"), spark)
    a = st.stage_dataframe(spark.range(3).selectExpr("id", "id * 2 as v"))
    b = st.stage_dataframe(spark.range(3, 5).selectExpr("id * 2 as v", "id"))
    assert a[0]["schema_id"] != b[0]["schema_id"]
    st.commit(adds={"t": a + b})

    # mixed ids: inferred, all rows readable by name
    got, jobs = _jobs_during(spark, lambda: st.read("t"))
    assert jobs != []
    assert sorted(got.columns) == ["id", "v"]
    assert sorted((r.id, r.v) for r in got.collect()) == [
        (i, 2 * i) for i in range(5)]

    # entries without ids (stores written before ids existed) and ids the
    # manifest does not map: inferred
    m = st.manifest()
    for e in m["tables"]["t"]["files"][len(a):]:
        del e["schema_id"]
    m["schemas"] = {}
    st._write_manifest(dict(m, version=m["version"] + 1))
    fresh = SnapshotStore(st.root, spark)
    for files in (fresh.table_files("t")[:len(a)],
                  fresh.table_files("t")[len(a):]):
        got, jobs = _jobs_during(spark, lambda: fresh.read("t", files=files))
        assert jobs != []
        assert got.schema == _inferred(fresh, files)

    # a real store written before schema ids: every table reads as before
    fixture = os.path.join(os.path.dirname(__file__), "fixtures", "r2_store")
    shutil.copytree(fixture, str(tmp_path / "r2"))
    old = SnapshotStore(str(tmp_path / "r2"), spark)
    for table, v in old.manifest()["tables"].items():
        if v["files"]:
            assert "schema_id" not in v["files"][0]
            df = old.read(table)
            assert df.schema == _inferred(old, v["files"])
            assert df.count() == old.row_count(table)
    assert "schemas" not in old.manifest()
