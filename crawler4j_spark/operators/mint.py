"""Deterministic distributed docid minting (J1's hard part, SURVEY §7).

The reference mints docids under a global mutex in arrival order
(``frontier/DocIDServer.java:87-99``). The engine reproduces the exact same
numbering without any global sort or single-partition window:

1. the mint key is (process_seq, within_order) — the order in which the
   reference would have first sighted each URL (parent's politeness-greedy
   processing position, then first-occurrence document order within the page);
2. rows are assigned to P range buckets with a *deterministic* formula on
   process_seq (no sampling — ``repartitionByRange`` samples and is therefore
   not reproducible across cluster sizes);
3. each bucket computes local row numbers independently (window partitioned
   by the bucket — parallel, no shuffle beyond the bucket exchange);
4. bucket row-counts (a P-row aggregate) become prefix-sum offsets, joined
   back broadcast.

``docid = base + offset[bucket] + local_rank`` is identical for any P,
which is what makes the crawl deterministic from 1 to 1000 executors.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

__all__ = ["mint_docids"]


def mint_docids(
    fresh: DataFrame,      # candidate rows: url, process_seq, within_order, ...
    base_docid: int,
    max_seq: int,
    n_buckets: int = 32,
    persisted_out: list | None = None,
) -> DataFrame:
    """Adds ``docid`` numbered base+1, base+2, ... in (process_seq,
    within_order) order. ``persisted_out`` receives the internal cache
    handle, as in :func:`ordered_rank`, so a loop caller can unpersist it
    once every consumer of the output has run."""
    df = fresh.withColumn(
        "mint_bucket",
        F.floor((F.col("process_seq") - 1) * n_buckets / F.lit(max(max_seq, 1)))
        .cast("int"),
    )
    # Persist BELOW the window, not above it: the count action then
    # materializes only the anti-join output (no sort), and the caller's
    # single consumption pays the bucket sort exactly once, streaming the
    # ranked rows out without writing them back to storage. Caching the
    # post-window frame instead made the first action sort AND cache-write
    # the full-width rows under one memory budget — measured 4.2x slower
    # on the 40M-candidate dedup bench at 8 cores (76.8s -> 18.3s for the
    # join+mint phase, identical docids).
    df = df.persist()
    if persisted_out is not None:
        persisted_out.append(df)

    counts = (
        df.groupBy("mint_bucket").count().orderBy("mint_bucket").collect()
    )
    offsets, acc = {}, 0
    for r in counts:
        offsets[r["mint_bucket"]] = acc
        acc += r["count"]
    spark = fresh.sparkSession
    # pandas input → Arrow → JVM LocalTableScan: a plain python-list
    # createDataFrame routes every partition through a pickled python
    # task (~0.2-0.3 s per consuming job — pure per-round fixed cost)
    import pandas as pd

    off_df = spark.createDataFrame(
        pd.DataFrame(list(offsets.items()) or [(0, 0)],
                     columns=["mint_bucket", "bucket_offset"]),
        "mint_bucket int, bucket_offset long",
    )
    w = Window.partitionBy("mint_bucket").orderBy("process_seq", "within_order")
    return (
        df.withColumn("local_rank", F.row_number().over(w))
        .join(F.broadcast(off_df), "mint_bucket", "left")
        .withColumn(
            "docid",
            F.lit(base_docid)
            + F.coalesce(F.col("bucket_offset"), F.lit(0))
            + F.col("local_rank"),
        )
        .drop("mint_bucket", "local_rank", "bucket_offset")
    )


def ordered_rank(
    df: DataFrame,
    bucket_col,          # Column: order-consistent bucket (b(x)<b(y) ⇒ x<y)
    order_cols: list,    # tie-break ordering within a bucket
    out_col: str,
    base: int = 0,
    persisted_out: list | None = None,
) -> DataFrame:
    """Distributed dense rank over a total order, without a global sort:
    the caller supplies an order-consistent bucketing expression (every row
    of bucket k sorts before every row of bucket k+1); local ranks within
    buckets + a prefix-sum of bucket counts give the global dense rank.
    One tiny aggregate action (#buckets rows) is the only synchronization.

    ``order_cols`` must be a TOTAL order within each bucket (include a
    unique tiebreaker such as docid): the window sits above the persist,
    so a second consumption recomputes row_number and ties would rank
    nondeterministically.

    Loop callers (the engine calls this once per crawl round) should pass
    ``persisted_out``: the internal cache handle is appended so the caller
    can ``unpersist()`` it once the output is materialized, instead of
    leaking one cached frame per round until JVM GC triggers
    ContextCleaner."""
    df = df.withColumn("_ob", bucket_col.cast("long"))
    # persist below the window (see mint_docids): the count materializes
    # the un-sorted frame; the caller's single consumption pays the sort
    df = df.persist()
    if persisted_out is not None:
        persisted_out.append(df)
    counts = df.groupBy("_ob").count().orderBy("_ob").collect()
    offsets, acc = {}, base
    for r in counts:
        offsets[r["_ob"]] = acc
        acc += r["count"]
    spark = df.sparkSession
    import pandas as pd

    off_df = spark.createDataFrame(
        pd.DataFrame(list(offsets.items()) or [(0, 0)],
                     columns=["_ob", "_off"]),
        "_ob long, _off long")  # pandas → Arrow path (see mint_docids)
    w = Window.partitionBy("_ob").orderBy(*order_cols)
    return (
        df.withColumn("_lr", F.row_number().over(w))
        .join(F.broadcast(off_df), "_ob", "left")
        .withColumn(out_col,
                    (F.coalesce(F.col("_off"), F.lit(base)) + F.col("_lr"))
                    .cast("long"))
        .drop("_ob", "_lr", "_off")
    )


def running_max_before(
    df: DataFrame,
    ord_col: str,
    value_col: str,
    out_col: str,
    n_buckets: int = 32,
) -> DataFrame:
    """Distributed exclusive running max over a total order: adds
    ``out_col`` = max(``value_col``) over all rows with strictly smaller
    ``ord_col`` (null for the first row). Same two-stage shape as
    :func:`mint_docids` — deterministic range buckets on ``ord_col``, a
    per-bucket running-max window, and a P-row bucket-maxima aggregate
    whose prefix maxima join back broadcast — so there is no global sort
    and no single-partition window at any input size. ``ord_col`` must be
    unique (a total order); heavy clustering of ``ord_col`` values skews
    the range buckets (acceptable for arrival/docid orders, which are
    near-uniform over their span)."""
    bounds = df.agg(F.min(ord_col).alias("lo"),
                    F.max(ord_col).alias("hi")).first()
    lo, hi = bounds["lo"], bounds["hi"]
    if lo is None:
        return df.withColumn(out_col, F.lit(None).cast("long"))
    span = max(int(hi) - int(lo) + 1, 1)
    # Bucket in double space: long arithmetic ((ord-lo) * n_buckets)
    # overflows for hash/nanosecond-scale ord spans (> ~2^58) and would
    # silently corrupt the running max. Double conversion is monotonic in
    # ord, so order-consistency of the buckets is preserved; the clamp
    # guards the two rounding edges (col rounding just below lo, and
    # (hi-lo)/span rounding up to exactly 1.0).
    df = df.withColumn(
        "_pmb",
        F.greatest(F.lit(0).cast("long"), F.least(
            F.lit(n_buckets - 1).cast("long"),
            F.floor((F.col(ord_col).cast("double") - float(int(lo)))
                    * n_buckets / float(span)).cast("long"))))
    # persist below the window (see mint_docids); unpersisted below once
    # the checkpointed output is materialized — callers loop (warm-start
    # fixpoint), so leaked cache blocks would accumulate on a long-lived
    # driver until JVM GC happened to trigger ContextCleaner.
    df = df.persist()
    rows = df.groupBy("_pmb").agg(F.max(value_col).alias("m")) \
        .orderBy("_pmb").collect()
    pref, run = [], None
    for r in rows:
        pref.append((r["_pmb"], run))
        run = r["m"] if run is None else max(run, r["m"])
    spark = df.sparkSession
    off = spark.createDataFrame(pref, "_pmb long, _bpref long")
    w = (Window.partitionBy("_pmb").orderBy(ord_col)
         .rowsBetween(Window.unboundedPreceding, -1))
    out = (
        df.join(F.broadcast(off), "_pmb", "left")
        # greatest() skips nulls: first row of the first bucket gets null
        .withColumn(out_col, F.greatest(
            F.max(value_col).over(w), F.col("_bpref")))
        .drop("_pmb", "_bpref")
    )
    # Materialize the result (cutting lineage for fixpoint callers), then
    # free the cache deterministically instead of waiting for GC.
    out = out.localCheckpoint(eager=True)
    df.unpersist()
    return out
