"""URL-seen dedup at scale: hash-bucketed bloom sidecar + exact anti-join.

This is the engine's replacement for the reference's mutex-serialized
``DocIDServer`` (``frontier/DocIDServer.java:87-99``) per the north rule:
"a partitioned Iceberg frontier table plus a bloom/cuckoo URL-seen filter
maintained per partition via applyInPandas".

Layout
------
* ``seen`` table: ``(url, docid, bucket)`` where
  ``bucket = pmod(xxhash64(url), n_buckets)`` — hash-partitioned so the
  anti-join shuffles both sides on the same key and each bucket's exact
  check touches one partition.
* ``seen_bloom`` table: one row per bucket, ``(bucket, nbits, bits)`` where
  ``bits`` is a little-endian bitmap. Built and incrementally updated with a
  cogrouped ``applyInPandas`` (one Arrow batch per bucket).

Candidate pre-filter
--------------------
``split_new_vs_maybe_seen`` marks each candidate ``maybe_seen`` via the
bloom bitmaps (cogrouped applyInPandas). Bloom false positives are safe:
a *maybe* still goes through the exact anti-join; a *definitely-new* skips
it. At 10^10 seen URLs with a few billion candidates per round, this removes
the shuffle for the (typical) 60-95% of candidates that are re-discoveries
of never-seen URLs — only maybes join against the full seen table.

The bloom parameters target ~1% FPP at ``expected_per_bucket`` insertions
(k=7, ~9.6 bits/key). The bitmap hashing is pure numpy over the Arrow batch.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType,
    BooleanType,
    IntegerType,
    LongType,
    StructField,
    StructType,
)

__all__ = [
    "with_bucket",
    "BLOOM_SCHEMA",
    "update_blooms",
    "split_new_vs_maybe_seen",
    "load_bitmaps",
]

_K_HASHES = 7


def with_bucket(df: DataFrame, url_col: str, n_buckets: int) -> DataFrame:
    """Stable hash bucket (JVM-side xxhash64 — no Python)."""
    return df.withColumn(
        "bucket", F.pmod(F.xxhash64(F.col(url_col)), F.lit(n_buckets)).cast("int")
    )


BLOOM_SCHEMA = StructType([
    StructField("bucket", IntegerType()),
    StructField("nbits", LongType()),
    StructField("bits", BinaryType()),
])


def with_bloom_hashes(df: DataFrame, url_col: str) -> DataFrame:
    """Bloom double-hashing seeds computed JVM-side (codegen xxhash64 with
    two salts) — the Python probe/update then does only numpy arithmetic,
    never a per-row hashing loop."""
    return df.withColumn(
        "bh1", F.xxhash64(F.col(url_col), F.lit(0x5EED1))
    ).withColumn(
        "bh2", F.xxhash64(F.col(url_col), F.lit(0x5EED2))
    )


def _bit_positions(h1s, h2s, nbits: int) -> np.ndarray:
    """(n, K) bloom bit positions from precomputed 64-bit hash columns
    (h1 + i*(h2|1)) — pure numpy, deterministic."""
    h1 = np.asarray(h1s, dtype=np.int64).view(np.uint64)
    h2 = np.asarray(h2s, dtype=np.int64).view(np.uint64) | np.uint64(1)
    ks = np.arange(_K_HASHES, dtype=np.uint64)
    return (h1[:, None] + ks[None, :] * h2[:, None]) % np.uint64(nbits)


def _set_bits(bitmap: np.ndarray, pos: np.ndarray) -> None:
    np.bitwise_or.at(bitmap, pos // 8, (1 << (pos % 8)).astype(np.uint8))


def _test_bits(bitmap: np.ndarray, pos: np.ndarray) -> np.ndarray:
    """Row-wise AND over the K probe bits → membership (maybe) mask."""
    probes = (bitmap[pos // 8] >> (pos % 8).astype(np.uint8)) & 1
    return probes.all(axis=1)


def bloom_nbits(expected_per_bucket: int) -> int:
    # ~9.6 bits/key → ~1% FPP at k=7; round up to a byte multiple
    n = max(1024, int(expected_per_bucket * 9.6))
    return (n + 7) // 8 * 8


def update_blooms(
    new_urls: DataFrame,          # columns: url, bucket
    blooms: DataFrame | None,     # BLOOM_SCHEMA or None (cold start)
    n_buckets: int,
    expected_per_bucket: int,
) -> DataFrame:
    """Complete replacement bloom set (cogrouped applyInPandas: one group =
    one bucket). The cogroup's full-outer grouping passes untouched existing
    buckets through unchanged (merge handles an empty urls_pdf), so the
    result contains ALL buckets — existing plus newly touched. Do NOT union
    the result with the old bloom rows: that would duplicate bucket rows and
    make the probe's iloc[0] read an arbitrary bitmap."""
    spark = new_urls.sparkSession
    default_nbits = bloom_nbits(expected_per_bucket)
    if blooms is None:
        blooms = spark.createDataFrame([], BLOOM_SCHEMA)

    def merge(key, urls_pdf: pd.DataFrame, bloom_pdf: pd.DataFrame) -> pd.DataFrame:
        bucket = int(key[0])
        if len(bloom_pdf) > 0:
            nbits = int(bloom_pdf["nbits"].iloc[0])
            bitmap = np.frombuffer(bloom_pdf["bits"].iloc[0], dtype=np.uint8).copy()
        else:
            nbits = default_nbits
            bitmap = np.zeros(nbits // 8, dtype=np.uint8)
        if len(urls_pdf) > 0:
            pos = _bit_positions(urls_pdf["bh1"], urls_pdf["bh2"], nbits)
            _set_bits(bitmap, pos.reshape(-1))
        return pd.DataFrame(
            {"bucket": [bucket], "nbits": [nbits], "bits": [bitmap.tobytes()]}
        )

    return (
        with_bloom_hashes(new_urls, "url").select("bucket", "bh1", "bh2")
        .groupBy("bucket")
        .cogroup(blooms.groupBy("bucket"))
        .applyInPandas(merge, BLOOM_SCHEMA)
    )


def bitmap_bytes_uncompressed(paths: list[str]) -> int:
    """Uncompressed byte size of the ``bits`` column across sidecar parquet
    files, read from footer metadata only (no data pages touched). The
    broadcast gate must budget the IN-MEMORY bitmap footprint the driver
    will hold — compressed file size (os.path.getsize) underestimates it
    badly for sparse, snappy-friendly bitmaps, and would disagree with the
    fallback path's octet_length(bits) gate near the threshold."""
    import pyarrow.parquet as pq

    total = 0
    for p in paths:
        md = pq.ParquetFile(p).metadata
        for rg in range(md.num_row_groups):
            g = md.row_group(rg)
            for c in range(g.num_columns):
                col = g.column(c)
                if col.path_in_schema == "bits":
                    total += col.total_uncompressed_size
    return total


def load_bitmaps(paths: list[str]) -> dict[int, tuple[int, np.ndarray]]:
    """Driver-side pyarrow read of bloom sidecar parquet files →
    {bucket: (nbits, bitmap)}. The broadcast probe needs the bitmaps on
    the driver anyway; reading the (local, ≤broadcast-threshold) files
    directly costs ZERO Spark jobs, where the collect path spent two jobs
    per round (size agg + collect) on the engine's hot loop."""
    import pyarrow.parquet as pq

    out: dict[int, tuple[int, np.ndarray]] = {}
    for p in paths:
        t = pq.read_table(p, columns=["bucket", "nbits", "bits"])
        for b, n, bits in zip(t.column("bucket").to_pylist(),
                              t.column("nbits").to_pylist(),
                              t.column("bits").to_pylist()):
            out[int(b)] = (int(n), np.frombuffer(bits, dtype=np.uint8))
    return out


def split_new_vs_maybe_seen(
    candidates: DataFrame,        # must carry: url, bucket (+ payload cols)
    blooms: DataFrame | None,
    broadcast_threshold_bytes: int = 256 << 20,
    prebuilt_bitmaps: dict[int, tuple[int, np.ndarray]] | None = None,
    broadcasts_out: list | None = None,
) -> DataFrame:
    """Adds ``maybe_seen: boolean``. No bloom row for a bucket ⇒ nothing of
    that bucket was ever inserted ⇒ definitely new.

    Two physical strategies:
    * **broadcast probe** (default when the bitmaps fit the threshold): the
      bloom sidecar is tiny relative to the candidate stream — ship the
      bitmaps to every worker and probe inside a shuffle-free
      ``mapInPandas``. The candidate stream is never exchanged just to be
      probed; only bloom-"maybe" rows pay the anti-join shuffle later.
    * **cogrouped probe** (frontier scale, e.g. 8192 buckets × 1.5 MB =
      12 GB of bitmaps): shuffle candidates to their bucket and join each
      bucket's bitmap in a cogrouped ``applyInPandas`` — one Arrow group
      per bucket, nothing broadcast.

    ``broadcasts_out`` receives the bitmap broadcast, when one is made, so a
    loop caller can ``destroy()`` it once the probed frame's last job has
    run instead of leaving it to the JVM GC's ContextCleaner.

    CALLER CONTRACT: ``candidates`` should sit behind a materialization
    boundary (parquet read / cached relation), as the engine's staged round
    intermediates always do. If ``url`` is itself an unmaterialized Python
    UDF output, Catalyst's project collapse duplicates that UDF into the
    probe's hash arguments (one ArrowEvalPython per reference) and the
    upstream kernel runs twice."""
    spark = candidates.sparkSession
    if blooms is None and prebuilt_bitmaps is None:
        return candidates.withColumn("maybe_seen", F.lit(False))

    out_schema = StructType(
        candidates.schema.fields + [StructField("maybe_seen", BooleanType())]
    )

    if prebuilt_bitmaps is not None:
        # caller already holds the bitmaps driver-side (e.g. read straight
        # from the sidecar parquet with pyarrow) — zero Spark jobs here
        use_broadcast, bitmaps = True, prebuilt_bitmaps
    else:
        sizes = blooms.select(
            F.sum(F.octet_length("bits")).alias("b")).collect()[0]["b"] or 0
        use_broadcast = sizes <= broadcast_threshold_bytes
        if use_broadcast:
            bitmaps = {
                int(r["bucket"]): (int(r["nbits"]),
                                   np.frombuffer(r["bits"], dtype=np.uint8))
                for r in blooms.collect()
            }
    if use_broadcast:
        bc = spark.sparkContext.broadcast(bitmaps)
        if broadcasts_out is not None:
            broadcasts_out.append(bc)

        # Scalar pandas UDF over exactly three int64 columns: only
        # (bucket, bh1, bh2) cross the Arrow boundary in and one boolean
        # comes back — the url strings and payload columns stay JVM-side
        # (a mapInPandas here would serialize the entire candidate row set
        # both ways; on a 40M-row probe that is the dominant cost).
        @F.pandas_udf(BooleanType())
        def probe_udf(buckets_s: pd.Series, bh1_s: pd.Series,
                      bh2_s: pd.Series) -> pd.Series:
            local = bc.value
            out = np.zeros(len(buckets_s), dtype=bool)
            buckets = buckets_s.to_numpy()
            bh1 = bh1_s.to_numpy()
            bh2 = bh2_s.to_numpy()
            for b in np.unique(buckets):
                entry = local.get(int(b))
                idx = np.nonzero(buckets == b)[0]
                if entry is None:
                    continue  # bucket never inserted → definitely new
                nbits, bitmap = entry
                pos = _bit_positions(bh1[idx], bh2[idx], nbits)
                out[idx] = _test_bits(bitmap, pos)
            return pd.Series(out)

        return (
            with_bloom_hashes(candidates, "url")
            .withColumn("maybe_seen",
                        probe_udf(F.col("bucket"), F.col("bh1"), F.col("bh2")))
            .drop("bh1", "bh2")
        )

    def probe(key, cand_pdf: pd.DataFrame, bloom_pdf: pd.DataFrame) -> pd.DataFrame:
        if len(cand_pdf) == 0:
            return pd.DataFrame(columns=[f.name for f in out_schema.fields])
        if len(bloom_pdf) == 0:
            cand_pdf = cand_pdf.drop(columns=["bh1", "bh2"])
            cand_pdf["maybe_seen"] = False
            return cand_pdf
        nbits = int(bloom_pdf["nbits"].iloc[0])
        bitmap = np.frombuffer(bloom_pdf["bits"].iloc[0], dtype=np.uint8)
        pos = _bit_positions(cand_pdf["bh1"], cand_pdf["bh2"], nbits)
        out = _test_bits(bitmap, pos)
        cand_pdf = cand_pdf.drop(columns=["bh1", "bh2"])
        cand_pdf["maybe_seen"] = out
        return cand_pdf

    return (
        with_bloom_hashes(candidates, "url").groupBy("bucket")
        .cogroup(blooms.groupBy("bucket"))
        .applyInPandas(probe, out_schema)
    )
