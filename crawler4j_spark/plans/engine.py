"""CrawlEngine: the PySpark-native frontier + fetch-scheduler round loop.

One crawl *round* is the set-oriented equivalent of the reference's
per-thread claim/fetch/parse/schedule loop (``WebCrawler.java:271-497``,
SURVEY §3.2):

    claimed    = frontier head by (priority, min(depth,127), docid)   # S3/O1
    slotted    = per-host politeness slots + process order            # O3/O4
    fetched    = claimed ⋈ corpus on url (simulated fetch)            # S5
    candidates = parse spans / text-regex, junk filter, canonicalize,
                 within-page first-occurrence dedup, outlink cap      # F1-F3,J2,O5
    redirects  = 3xx targets, raw, same depth                         # §4 item 7
    fresh      = candidates bloom-prefiltered ⊳ anti-join seen        # J1
    minted     = docids in (process_seq, within_order) order          # J1
    admitted   = depth gate ∧ shouldVisit ∧ robots ∧ max-pages        # F5,F7,F8
    commit     : seen += minted; frontier := frontier − claimed + admitted;
                 documents += visited; metrics += counters; blooms update;
                 host politeness carry + clock + docid HWM → snapshot props

Every commit is one atomic snapshot (sources/tableio.py), so a killed run
resumes from the last committed round exactly (tested in test_resume.py).

All row-wise logic is Arrow-batched pandas UDFs sharing kernels with the
reference simulator; everything else is DataFrame ops Catalyst can optimize.
Scale levers: hash-bucketed seen + per-bucket bloom sidecar (no global
mutex — the shuffle IS the lock, SURVEY §4 P6), deterministic mint buckets,
broadcast robots/host-state joins, file-stat-pruned frontier claims.
"""

from __future__ import annotations

import os
import time
import uuid
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from ..functions import urlkit
from ..functions.udfs import (
    bad_charset_udf,
    host_udf,
    parse_robots_udf_factory,
    path_udf,
    robots_allow_udf,
)
from ..operators.mint import mint_docids
from ..operators.parse import extract_candidates
from ..operators.politeness import assign_slots, new_host_carry
from ..operators.seen_filter import (
    bitmap_bytes_uncompressed,
    load_bitmaps,
    split_new_vs_maybe_seen,
    update_blooms,
    with_bucket,
)
from ..sources.tableio import SnapshotStore
from .refsim import (  # noqa: F401
    CONTENT_FETCH_ERROR,
    PAGE_TOO_BIG,
    REDIRECT_CODES,
    SimConfig,
)

__all__ = ["CrawlEngine", "EngineConfig"]


SPAN_TYPE = ArrayType(StructType([
    StructField("kind", StringType()),
    StructField("text", StringType()),
    StructField("media_ref", StringType()),
    StructField("offset", IntegerType()),
]))

FRONTIER_SCHEMA = StructType([
    StructField("url", StringType()),
    StructField("docid", LongType()),
    StructField("parent_docid", LongType()),
    StructField("parent_url", StringType()),
    StructField("seed_docid", LongType()),
    StructField("depth", IntegerType()),
    StructField("priority", IntegerType()),
    StructField("anchor", StringType()),
    StructField("tag", StringType()),
    StructField("host", StringType()),
])

SEEN_SCHEMA = "url string, docid long, bucket int"

# One physical per-round state table replaces three tiny per-round
# stagings (host politeness carry, seed-offspring counts, round scalars):
# each was its own Spark write job every round — pure fixed cost at
# sandbox round sizes. `kind` discriminates; unused columns are null
# (parquet stores them for free). The driver reads the 1-row scalars
# slice back with pyarrow (no job).
ROUND_STATE_FIELDS: list[tuple[str, str]] = [
    ("kind", "string"),
    ("host", "string"), ("next_time", "long"),
    ("seed_docid", "long"), ("cnt", "long"), ("ended_round", "int"),
    ("s_visited", "long"), ("s_err", "long"), ("s_max_eff", "long"),
]


def _rs_align(df: DataFrame, kind: str) -> DataFrame:
    """Project ``df`` onto the round_state union schema, null-filling the
    columns this kind doesn't carry."""
    cols = []
    for name, dtype in ROUND_STATE_FIELDS:
        if name == "kind":
            cols.append(F.lit(kind).alias("kind"))
        elif name in df.columns:
            cols.append(F.col(name).cast(dtype).alias(name))
        else:
            cols.append(F.lit(None).cast(dtype).alias(name))
    return df.select(*cols)


@dataclass
class EngineConfig:
    """SimConfig (reference CrawlConfig mirror) + engine scale knobs."""

    sim: SimConfig = None                  # type: ignore[assignment]
    round_size: int = 25                   # claim K per round (= batch×par)
    n_seen_buckets: int = 64               # url_hash buckets for seen/bloom
    expected_urls_per_bucket: int = 200_000
    mint_buckets: int = 32
    should_visit_pattern: str | None = None  # regex gate (F4), None = all
    # F12 handleUrlBeforeProcess: optional DataFrame->DataFrame rewrite of
    # the claimed batch before fetching (WebCrawler.java:183-185)
    url_rewrite: object | None = None
    # S5 transport slot (PageFetcher.java:263-347): optional
    # DataFrame->DataFrame fetch. Input: the slotted claimed batch; output:
    # the same rows PLUS the fetch-result columns (spans, status_code,
    # redirect_to, content_type, content_length, content_data). None =
    # simulated transport (broadcast join against the corpus table). A real
    # deployment plugs an HTTP pandas UDF (mapInPandas) here; the engine
    # never assumes where the bytes came from.
    fetch_fn: object | None = None
    # anti-starvation (SURVEY §7): claim at most this many URLs per host per
    # round; the rest stay pending for later rounds. None = unlimited
    # (reference-parity mode — the reference has no such cap; a hot host's
    # cost is bounded by the politeness budget either way).
    max_host_slots_per_round: int | None = None
    # scale knobs: exact_claim=True reproduces the reference's exact global
    # top-K claim (TakeOrderedAndProject — single-partition for large K);
    # False claims all rows of the stats-pruned head files (≈ round_size,
    # priority-region-accurate) with no global sort. dense_seq_distributed
    # computes the politeness process order via the two-stage rank; None
    # (default) auto-selects it whenever politeness_ms > 0, so the default
    # round plan has no single-partition exchange at any claim-batch size
    # (False forces the single-window form, for A/B checks only).
    exact_claim: bool = True
    dense_seq_distributed: bool | None = None
    # Authority feedback cadence (OPIC/PageRank frontier ordering): every
    # K completed rounds, recompute host PageRank over the observed link
    # graph (host_link_edges) and fold it into the pending frontier's
    # priority column (reprioritize_frontier). None = off — reference
    # parity, where the priority byte is user-set only
    # (url/WebURL.java:255-263). The rewrite runs BETWEEN rounds at this
    # maintenance cadence, never per round (see reprioritize_frontier's
    # scale note).
    authority_every: int | None = None
    authority_iters: int = 3
    authority_scale: float = 8.0
    # J4 robots TTL on the engine's virtual clock. The default replicates
    # the fork's HostDirectives.java:28 bug — 24*60*1000L is 24 MINUTES
    # (the comment claims 24 hours). Use 24*3600*1000 for the intended
    # value, or None to disable refresh entirely (round-1 behavior).
    robots_ttl_ms: int | None = 24 * 60 * 1000

    def __post_init__(self) -> None:
        if self.sim is None:
            self.sim = SimConfig()


class CrawlEngine:
    def __init__(
        self,
        spark: SparkSession,
        store_path: str,
        corpus_df: DataFrame | None = None,
        robots_df: DataFrame | None = None,
        config: EngineConfig | None = None,
    ) -> None:
        self.spark = spark
        self.cfg = config or EngineConfig()
        self.store = SnapshotStore(store_path, spark)
        self._parse_robots_udf = parse_robots_udf_factory(self.cfg.sim.user_agent)

        props = self.store.props
        if corpus_df is not None:
            if "corpus" not in self.store.manifest()["tables"]:
                entries = self.store.stage_dataframe(
                    corpus_df.repartition(max(spark.sparkContext.defaultParallelism, 4),
                                          "doc_id")
                )
                self.store.commit(replaces={"corpus": entries})
        if robots_df is not None and "robots_rules" not in self.store.manifest()["tables"]:
            # raw bodies persisted too: the TTL refresh (HostDirectives.java:
            # 25-41) refetches from this table — the simulated transport.
            # One body row per host enforced (see set_robots_bodies);
            # rules parse from the deduped bodies so both stay aligned.
            bodies = (robots_df.select("host", "body")
                      .groupBy("host").agg(F.max("body").alias("body")))
            rules = self._parse_rules(bodies, fetched_at=0)
            self.store.commit(replaces={
                "robots_rules": self.store.stage_dataframe(rules),
                "robots_bodies": self.store.stage_dataframe(bodies),
            })

        # scalar checkpoint state
        self.round = int(props.get("round", 0))
        self.last_docid = int(props.get("last_docid", 0))
        self.scheduled_pages = int(props.get("scheduled_pages", 0))
        self.processed_pages = int(props.get("processed_pages", 0))
        self.clock = int(props.get("clock", 0))
        self._robots_refreshed_at = int(props.get("robots_refreshed_at", 0))

        self._migrate_old_schemas()

    def _migrate_old_schemas(self) -> None:
        """Resume path for stores written before columns were added: the
        round-2 release added seed_counts.ended_round and robots_rules.
        fetched_at; round 3 added fetch_log.bad_charset. The two small
        tables are rewritten once with backfilled values (old stores never
        observed a TTL or an end event, so 0 / NULL are the faithful
        states); fetch_log can be huge, so its views merge schemas at read
        time instead (see _fetch_log_with_charset)."""
        replaces: dict[str, list[dict]] = {}
        counts = self._read("seed_counts")
        if counts is not None and "ended_round" not in counts.columns:
            replaces["seed_counts"] = self.store.stage_dataframe(
                counts.withColumn("ended_round", F.lit(None).cast("int")))
        rules = self._read("robots_rules")
        if rules is not None and "fetched_at" not in rules.columns:
            replaces["robots_rules"] = self.store.stage_dataframe(
                rules.withColumn("fetched_at", F.lit(0).cast("long")))
        if replaces:
            self.store.commit(replaces=replaces)

    # ------------------------------------------------------------------ io

    def _read(self, table: str) -> DataFrame | None:
        return self.store.read(table)

    def _state_view(self, kind: str, cols: list[str],
                    legacy_table: str) -> DataFrame | None:
        """Filtered view of round_state for one kind, unioned with the
        legacy standalone table when present (stores written before the
        merge, or a legacy store that had seeds added mid-transition)."""
        parts = []
        rs = self.store.read("round_state")
        if rs is not None:
            parts.append(rs.filter(F.col("kind") == kind).select(*cols))
        legacy = self.store.read(legacy_table)
        if legacy is not None:
            parts.append(legacy.select(*cols))
        if not parts:
            return None
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out

    def _host_state_view(self) -> DataFrame | None:
        return self._state_view("host", ["host", "next_time"], "host_state")

    def _seed_counts_view(self) -> DataFrame | None:
        return self._state_view(
            "seed", ["seed_docid", "cnt", "ended_round"], "seed_counts")

    # NOTE on AQE and the jobs/round meter: AQE materializes every exchange
    # as its own Spark job, so the meter over-counts "fixed cost" relative
    # to wall. Suppressing AQE around the small stagings (no-AQE + static
    # shuffle.partitions=4 scopes) cut jobs/round 65→58 but cost 13-16%
    # e2e WALL in a same-noise-window A/B at 32 cores (90.3 s with AQE
    # everywhere vs 118.9 s with the scopes; round-2 code measured 102.3 s
    # in the same window): joins above aggregations lose their runtime
    # broadcast conversion and run as 4-partition sort-merge joins, and
    # tiny shuffles lose runtime coalescing. AQE's extra jobs are cheap
    # scheduler bookkeeping — leave it on everywhere.

    def _read_round_scalars(self, rs_entries: list[dict]) -> tuple[int, int, int]:
        """(n_visited, n_err, max_eff) from the staged round_state files —
        a driver-side pyarrow read of the 1-row 'scalars' slice, zero Spark
        jobs (the scalars were computed inside the round_state write job)."""
        import pyarrow.parquet as pq

        for e in rs_entries:
            t = pq.read_table(
                os.path.join(self.store.root, e["path"]),
                columns=["kind", "s_visited", "s_err", "s_max_eff"])
            for kind, sv, se, sm in zip(t.column("kind").to_pylist(),
                                        t.column("s_visited").to_pylist(),
                                        t.column("s_err").to_pylist(),
                                        t.column("s_max_eff").to_pylist()):
                if kind == "scalars":
                    return int(sv or 0), int(se or 0), int(sm or 0)
        return 0, 0, 0

    _BLOOM_BROADCAST_BYTES = 256 << 20

    def _probe_blooms(self, candidates: DataFrame,
                      broadcasts_out: list | None = None) -> DataFrame:
        """maybe_seen column via the bloom sidecar. While the sidecar fits
        the broadcast threshold, the bitmaps are read straight off the
        local sidecar parquet with pyarrow (UNCOMPRESSED `bits` size via
        footer metadata — same budget the fallback path's octet_length gate
        uses, and the true driver-memory footprint) — ZERO Spark jobs on
        the hot loop, where the collect-based path spent two
        (size agg + collect) per round. Past the threshold the cogrouped
        applyInPandas strategy takes over unchanged."""
        entries = self.store.table_files("seen_bloom")
        if not entries:
            return split_new_vs_maybe_seen(candidates, None)
        paths = [os.path.join(self.store.root, e["path"]) for e in entries]
        total = bitmap_bytes_uncompressed(paths)
        if total <= self._BLOOM_BROADCAST_BYTES:
            return split_new_vs_maybe_seen(
                candidates, None, prebuilt_bitmaps=load_bitmaps(paths),
                broadcasts_out=broadcasts_out)
        return split_new_vs_maybe_seen(candidates, self._read("seen_bloom"),
                                       broadcasts_out=broadcasts_out)

    def _parse_rules(self, bodies: DataFrame, fetched_at: int) -> DataFrame:
        """(host, body) -> robots_rules rows via the Arrow-batched parser
        UDF, stamped with the fetch time for TTL accounting."""
        return bodies.withColumn(
            "rules", self._parse_robots_udf(F.col("body"))
        ).select(
            "host",
            F.col("rules.gen_disallow").alias("gen_disallow"),
            F.col("rules.gen_allow").alias("gen_allow"),
            F.col("rules.spec_disallow").alias("spec_disallow"),
            F.col("rules.spec_allow").alias("spec_allow"),
            F.lit(fetched_at).cast("long").alias("fetched_at"),
        )

    def set_robots_bodies(self, robots_df: DataFrame) -> None:
        """Replace the simulated robots transport (the web changed). Cached
        rules keep serving until their TTL expires — exactly the reference's
        HostDirectives behavior.

        The refresh join and its n_expired/n_refreshed counts assume ONE
        body row per host (a host serves one robots.txt); enforce it here
        deterministically (lexicographic max body wins on duplicates) so a
        sloppy caller can't inflate the counts or duplicate refreshed rules
        rows downstream."""
        self.store.commit(replaces={
            "robots_bodies": self.store.stage_dataframe(
                robots_df.select("host", "body")
                .groupBy("host").agg(F.max("body").alias("body")))})

    def refresh_robots(self) -> int:
        """J4 TTL refresh (HostDirectives.java:25-41): re-fetch + re-parse
        directives older than ``robots_ttl_ms`` on the engine clock. The
        default TTL replicates the fork's 24*60*1000L bug (24 MINUTES — the
        comment says 24 hours); set robots_ttl_ms=24*3600*1000 for the
        intended behavior. Returns the number of hosts refreshed.

        Scale shape: expired hosts are found by a column filter on the rules
        table, re-parsed via the Arrow-batched UDF from the bodies table
        (inner join pruned to expired hosts), and swapped in with an
        anti-join — no driver-side collect of either table."""
        ttl = self.cfg.robots_ttl_ms
        rules = self._read("robots_rules")
        bodies = self._read("robots_bodies")
        if rules is None or bodies is None or ttl is None:
            return 0
        expired_hosts = rules.filter(
            F.lit(self.clock) - F.col("fetched_at") > F.lit(ttl)
        ).select("host")
        # ONE job answers both "did anything expire?" and "how many still
        # have a live robots body?" — the common no-expiry round pays the
        # same single count it always did. Committing on n_expired (not
        # n_refreshed) matters: when every expired host's robots vanished
        # from the web, the stale rules must still drop out of the cache.
        cnt = expired_hosts.join(bodies, "host", "left").agg(
            F.count(F.lit(1)).alias("n_expired"),
            F.count("body").alias("n_refreshed")).collect()[0]
        if int(cnt["n_expired"] or 0) == 0:
            return 0
        refreshed = self._parse_rules(
            bodies.join(F.broadcast(expired_hosts), "host", "left_semi"),
            fetched_at=self.clock)
        # hosts whose robots vanished from the web drop out of the cache;
        # kept rows = not-expired ∪ refreshed
        kept = rules.join(F.broadcast(expired_hosts), "host", "left_anti")
        entries = self.store.stage_dataframe(kept.unionByName(refreshed))
        self.store.commit(replaces={"robots_rules": entries},
                          props=self._props())
        return int(cnt["n_refreshed"] or 0)

    def corpus(self) -> DataFrame:
        df = self._read("corpus")
        assert df is not None, "corpus table missing"
        return df

    # ---------------------------------------------------------------- seeds

    def add_seen_urls(self, pairs: list[tuple[str, int]]) -> int:
        """S2 warm start (CrawlController.addSeenUrl): bulk-register
        URL→docid mappings (e.g. from a previous crawl) without scheduling.
        Returns the number registered; updates the docid high-water mark.

        Scale shape: membership of the batch's URLs in ``seen`` is computed
        with a left-semi join (batch broadcast as build side, seen table
        streamed) — driver memory is O(|pairs|), never O(|seen|). The
        accept/reject walk itself is sequential by spec (each accepted docid
        raises the high-water mark for later pairs), so it runs driver-side
        over the (tiny) batch."""
        from ..functions.urlkit import canonicalize as _canon

        canon_pairs = [(_canon(url), docid) for url, docid in pairs]
        existing: set[str] = set()
        batch = sorted({c for c, _ in canon_pairs if c})
        if batch and self.store.table_files("seen"):
            batch_df = self.spark.createDataFrame(
                [(u,) for u in batch], "url string")
            existing = {
                r["url"]
                for r in self._read("seen").join(
                    F.broadcast(batch_df), "url", "left_semi"
                ).select("url").collect()
            }

        rows, hwm = [], self.last_docid
        for canon, docid in canon_pairs:
            if canon is None or canon in existing or docid <= hwm:
                continue
            rows.append((canon, docid))
            existing.add(canon)
            hwm = docid
        if not rows:
            return 0
        seen_delta = with_bucket(
            self.spark.createDataFrame(rows, "url string, docid long"),
            "url", self.cfg.n_seen_buckets)
        blooms = update_blooms(
            seen_delta, self._read("seen_bloom"),
            self.cfg.n_seen_buckets, self.cfg.expected_urls_per_bucket)
        bloom_entries = self.store.stage_dataframe(blooms)
        self.last_docid = hwm
        self.store.commit(
            adds={"seen": self.store.stage_dataframe(seen_delta)},
            replaces={"seen_bloom": bloom_entries},
            props=self._props())
        return len(rows)

    def add_seen_urls_bulk(self, df: DataFrame, ord_col: str = "ord") -> int:
        """S2 warm start at dump scale: same accept/reject semantics as
        :meth:`add_seen_urls` (property-tested equivalent,
        tests/test_warm_start.py) but fully distributed — canonicalization
        via the Arrow batch kernel, seen-membership via anti-join, and the
        sequential accept walk via the record-scan + freeing-event fixpoint
        of :func:`operators.warm_start.resolve_warm_batch`. Driver memory
        is O(P) bucket aggregates, never O(|batch|): this is the path a
        10^8-pair warm start takes. ``df`` needs (``ord_col``, url, docid);
        ``ord_col`` is the arrival order (docid order for dumps) and must
        be unique."""
        from ..functions.udfs import canonicalize_udf
        from ..operators.warm_start import resolve_warm_batch

        batch = (
            df.select(
                F.col(ord_col).cast("long").alias("ord"),
                canonicalize_udf(F.col("url")).alias("url"),
                F.col("docid").cast("long").alias("docid"))
            .filter(F.col("url").isNotNull())
        )
        seen = self._read("seen") if self.store.table_files("seen") else None
        accepted, hwm = resolve_warm_batch(batch, self.last_docid, seen)
        n = accepted.count()
        if n == 0:
            return 0
        seen_delta = with_bucket(
            accepted.select("url", "docid"), "url", self.cfg.n_seen_buckets)
        blooms = update_blooms(
            seen_delta, self._read("seen_bloom"),
            self.cfg.n_seen_buckets, self.cfg.expected_urls_per_bucket)
        bloom_entries = self.store.stage_dataframe(blooms)
        self.last_docid = hwm
        self.store.commit(
            adds={"seen": self.store.stage_dataframe(seen_delta)},
            replaces={"seen_bloom": bloom_entries},
            props=self._props())
        return n

    def add_seeds(self, seeds: list[dict]) -> list[int]:
        """CrawlController.addSeed semantics, batched before round 0
        (S1/S2). ``seeds``: [{url, priority, doc_id_override}] in order.
        Returns the assigned docids (−1 for rejected), driver-side — the
        seed list is tiny relative to the frontier."""
        from ..functions.robots import arrays_allow

        # Canonicalize up front so the robots/seen lookups below can be
        # pruned to exactly the seed batch's hosts/URLs. Both lookups are
        # left-semi joins with the (tiny, driver-provided) seed batch as the
        # broadcast build side: the robots/seen tables are streamed, never
        # collected — only the matching rows (≤ |seeds|) come back.
        canons = [urlkit.canonicalize(s["url"]) for s in seeds]

        robots = self._read("robots_rules")
        robots_map: dict[str, tuple] = {}
        if robots is not None and self.cfg.sim.robots_enabled:
            hosts = sorted({h for h in (
                urlkit.url_host(c) for c in canons if c) if h})
            if hosts:
                hosts_df = self.spark.createDataFrame(
                    [(h,) for h in hosts], "host string")
                for r in robots.join(
                        F.broadcast(hosts_df), "host", "left_semi").collect():
                    robots_map[r["host"]] = (
                        list(r["gen_disallow"]), list(r["gen_allow"]),
                        list(r["spec_disallow"]), list(r["spec_allow"]),
                    )

        seen_urls: dict[str, int] = {}
        seen_df = self._read("seen")
        if seen_df is not None:
            batch = sorted({c for c in canons if c})
            if batch:
                batch_df = self.spark.createDataFrame(
                    [(u,) for u in batch], "url string")
                for r in seen_df.join(
                        F.broadcast(batch_df), "url", "left_semi"
                        ).select("url", "docid").collect():
                    seen_urls[r["url"]] = r["docid"]

        results: list[int] = []
        rows: list[tuple] = []
        new_seen: list[tuple[str, int]] = []
        for s, canon in zip(seeds, canons):
            if canon is None:
                results.append(-1)
                continue
            override = s.get("doc_id_override")
            if override is None or override < 0:
                if canon in seen_urls:
                    results.append(-1)
                    continue
                self.last_docid += 1
                docid = self.last_docid
            else:
                if canon in seen_urls or override <= self.last_docid:
                    results.append(-1)
                    continue
                docid = override
                self.last_docid = docid
            seen_urls[canon] = docid
            new_seen.append((canon, docid))
            if self.cfg.sim.robots_enabled and not self.cfg.sim.ignore_robots_for_seed:
                host = urlkit.url_host(canon)
                if host in robots_map and not arrays_allow(
                    *robots_map[host], urlkit.url_path(canon)
                ):
                    results.append(-1)
                    continue
            if self.cfg.sim.max_pages < 0 or self.scheduled_pages < self.cfg.sim.max_pages:
                rows.append((canon, docid, -1, None, docid, 0,
                             int(s.get("priority", 0)), "", "",
                             urlkit.url_host(canon) or canon))
                self.scheduled_pages += 1
            results.append(docid)

        adds = {}
        if new_seen:
            seen_delta = with_bucket(
                self.spark.createDataFrame(new_seen, "url string, docid long"),
                "url", self.cfg.n_seen_buckets,
            )
            if rows:
                frontier_delta = self.spark.createDataFrame(rows, FRONTIER_SCHEMA)
                adds["frontier"] = self.store.stage_dataframe(
                    frontier_delta, stats_cols=["priority", "depth", "docid"])
                adds["round_state"] = self.store.stage_dataframe(_rs_align(
                    frontier_delta.groupBy("seed_docid").agg(
                        F.count("*").cast("long").alias("cnt"))
                    .withColumn("ended_round", F.lit(None).cast("int")),
                    "seed"))
            adds["seen"] = self.store.stage_dataframe(seen_delta)
            blooms = update_blooms(
                seen_delta, self._read("seen_bloom"),
                self.cfg.n_seen_buckets, self.cfg.expected_urls_per_bucket)
            new_blooms = self.store.stage_dataframe(blooms)
            self.store.commit(
                adds=adds,
                replaces={"seen_bloom": new_blooms},
                props=self._props(),
            )
        return results

    # ------------------------------------------------- authority feedback

    def host_link_edges(self) -> DataFrame:
        """Directed host-level link graph observed so far — (src, dst) =
        (parent's host, url's host) for every scheduled URL, distinct over
        the pending frontier plus the fetch log. Input for
        ``operators.graph.pagerank``; one distinct shuffle over tables the
        store already holds."""
        parts = []
        frontier = self._read("frontier")
        if frontier is not None:
            parts.append(frontier.select("parent_url", "host"))
        log = self.store.read("fetch_log", merge_schema=True)
        if log is not None:
            parts.append(log.select("parent_url", "host"))
        if not parts:
            return self.spark.createDataFrame([], "src string, dst string")
        both = parts[0] if len(parts) == 1 else parts[0].unionByName(parts[1])
        return (
            both.filter(F.col("parent_url").isNotNull())
            .select(host_udf(F.col("parent_url")).alias("src"),
                    F.col("host").alias("dst"))
            .filter(F.col("src") != F.col("dst"))
            .distinct()
        )

    def reprioritize_frontier(self, rank_df: DataFrame, key: str = "host",
                              scale: float = 8.0) -> int:
        """Authority feedback between rounds (OPIC/PageRank frontier
        ordering): fold a computed rank — e.g.
        ``graph.pagerank(self.host_link_edges())`` with node renamed to
        ``host`` — into the pending frontier's ``priority`` column. Higher
        rank ⇒ smaller (earlier) priority, clamped to the reference's byte
        range (url/WebURL.java:255-263); the claim order (priority asc,
        min(depth,127), docid — WorkQueues.java:185-209) is otherwise
        unchanged, and rows whose ``key`` has no rank keep their current
        priority.

        Scale shape: one join (the rank table is per-host — AQE broadcasts
        it under the threshold) plus a full frontier rewrite whose staged
        files record fresh (priority, depth, docid) stats for the pruned
        claim path. A full rewrite is the point — run it BETWEEN rounds at
        a maintenance cadence (every K rounds), never per round. Returns
        the frontier row count."""
        frontier = self._read("frontier")
        if frontier is None:
            return 0
        rank = rank_df.select(key, F.col("pr").alias("_pr"))
        new_priority = F.when(
            F.col("_pr").isNotNull(),
            F.greatest(
                F.lit(-128),
                F.least(F.lit(127),
                        -F.round(F.col("_pr") * F.lit(scale)).cast("int"))),
        ).otherwise(F.col("priority")).cast("int")
        updated = (
            frontier.join(rank, key, "left")
            .withColumn("priority", new_priority)
            .select(*frontier.columns)  # frontier column order (one schema id)
        )
        entries = self.store.stage_dataframe(
            updated, stats_cols=["priority", "depth", "docid"])
        self.store.commit(replaces={"frontier": entries},
                          props=self._props())
        return sum(e["rows"] for e in entries)

    def reschedule(self, urls, priority: int = 0) -> int:
        """Freshness re-crawl (extension — the reference NEVER revisits:
        DocIDServer.isSeenBefore makes assignUrl reject every seen URL, so
        crawler4j has no recrawl story): re-insert already-seen URLs into
        the pending frontier under their EXISTING docids. ``urls`` is a
        list of canonical URL strings or a DataFrame with a ``url`` column
        (e.g. a filtered ``visited_log()`` — dump-scale inputs stay
        distributed end-to-end). Unknown URLs are ignored (only seen URLs
        have a docid to revisit); URLs already pending keep their single
        frontier row (J3). Depth and seed lineage carry over from the last
        visit; never-visited seen URLs (gated at schedule time) fall back
        to depth 0 / own-docid lineage. Returns the number of rows
        re-inserted.

        The re-fetch flows through the normal round loop — politeness,
        robots, claim order — and appends NEW fetch_log/documents rows
        (the visit history keeps both fetches). Seen/docid state is
        untouched: recrawled pages mint docids only for genuinely new
        outlinks. Seed-offspring accounting: the kind=seed slice is merged
        (+n per seed) so ``cnt`` stays equal to live pending rows; a seed
        whose end event already fired keeps its ``ended_round`` stamp
        (exactly-once emission is preserved — recrawl does not re-end it).

        Scale shape: two url-keyed joins (seen lookup, pending anti-join),
        one docid-keyed window over the fetch log for the last visit, one
        frontier append with fresh claim stats — a maintenance operation
        between rounds, like ``reprioritize_frontier``."""
        from pyspark.sql import Window

        if isinstance(urls, (list, tuple)):
            urls_df = self.spark.createDataFrame(
                [(u,) for u in urls], "url string")
        else:
            urls_df = urls.select("url")
        seen = self._read("seen")
        if seen is None:
            return 0
        cand = urls_df.distinct().join(seen.select("url", "docid"), "url")
        frontier = self._read("frontier")
        if frontier is not None:
            cand = cand.join(frontier.select("url"), "url", "left_anti")
        log = self.store.read("fetch_log", merge_schema=True)
        if log is not None:
            w_last = Window.partitionBy("docid").orderBy(
                F.desc("round"), F.desc("process_seq"))
            last = (
                log.select("docid", "depth", "seed_docid", "round",
                           "process_seq")
                .withColumn("_rn", F.row_number().over(w_last))
                .filter(F.col("_rn") == 1)
                .select("docid", F.col("depth").alias("_depth"),
                        F.col("seed_docid").alias("_seed"))
            )
            cand = cand.join(last, "docid", "left")
        else:
            cand = (cand
                    .withColumn("_depth", F.lit(None).cast("int"))
                    .withColumn("_seed", F.lit(None).cast("long")))
        rows = cand.select(
            "url", "docid",
            F.lit(-1).cast("long").alias("parent_docid"),
            F.lit(None).cast("string").alias("parent_url"),
            F.coalesce(F.col("_seed"), F.col("docid")).alias("seed_docid"),
            F.coalesce(F.col("_depth"), F.lit(0)).cast("int").alias("depth"),
            F.lit(int(priority)).cast("int").alias("priority"),
            F.lit("").alias("anchor"), F.lit("").alias("tag"),
            host_udf(F.col("url")).alias("host"),
        )
        entries = self.store.stage_dataframe(
            rows, stats_cols=["priority", "depth", "docid"])
        n = sum(e["rows"] for e in entries)
        if n == 0:
            return 0
        # merge +cnt into the kind=seed slice; REPLACE round_state so the
        # one-row-per-seed invariant of the delta maintenance holds
        delta = (self.store.read("frontier", files=entries)
                 .groupBy("seed_docid")
                 .agg(F.count("*").cast("long").alias("_add")))
        old_counts = self._seed_counts_view()
        if old_counts is None:
            old_counts = self.spark.createDataFrame(
                [], "seed_docid long, cnt long, ended_round int")
        merged_seed = (
            old_counts.join(delta, "seed_docid", "outer")
            .select("seed_docid",
                    (F.coalesce(F.col("cnt"), F.lit(0))
                     + F.coalesce(F.col("_add"), F.lit(0))).alias("cnt"),
                    F.col("ended_round"))
        )
        rs = self.store.read("round_state")
        rs_parts = _rs_align(merged_seed, "seed")
        if rs is not None:
            rs_parts = rs.filter(F.col("kind") != "seed").unionByName(
                rs_parts)
        rs_entries = self.store.stage_dataframe(rs_parts)
        replaces = {"round_state": rs_entries}
        # a resumed pre-merge store: fold legacy tables like run_round does
        tables_now = self.store.manifest().get("tables", {})
        for legacy in ("host_state", "seed_counts"):
            if legacy in tables_now:
                replaces[legacy] = []
        self.scheduled_pages += n  # before _props() so a resume keeps it
        self.store.commit(adds={"frontier": entries}, replaces=replaces,
                          props=self._props())
        return n

    # ---------------------------------------------------------------- round

    def frontier_pending(self) -> int:
        return self.store.row_count("frontier")

    def run_round(self) -> dict:
        """Execute one crawl round; returns round metrics. No-op ({}) when
        the frontier is empty (termination condition, SURVEY §2.8)."""
        t0 = time.time()
        phases: dict[str, float] = {}
        phase_jobs: dict[str, int] = {}
        _last = [t0, 0]

        def mark(name: str) -> None:
            now = time.time()
            phases[name] = round(now - _last[0], 2)
            _last[0] = now
            # per-phase job attribution (driver-side metadata call): the
            # fixed-cost diet's meter needs to say WHERE the jobs go
            n = len(self.spark.sparkContext.statusTracker()
                    .getJobIdsForGroup(job_group))
            phase_jobs[name] = n - _last[1]
            _last[1] = n

        cfg, sim = self.cfg, self.cfg.sim
        # per-round Spark job accounting (the fixed-cost diet's meter)
        job_group = f"crawl-round-{uuid.uuid4().hex[:8]}"
        self.spark.sparkContext.setJobGroup(job_group, job_group)
        # J4 TTL: at most one refresh check per TTL window (O(1) driver-side
        # clock test; the actual expired-host scan only runs when due)
        if (sim.robots_enabled and cfg.robots_ttl_ms is not None
                and self.clock - self._robots_refreshed_at > cfg.robots_ttl_ms):
            self.refresh_robots()
            self._robots_refreshed_at = self.clock
        head_files, _rest = self.store.files_overlapping_head(
            "frontier", ["priority", "depth", "docid"], cfg.round_size)
        frontier_head = self.store.read("frontier", files=head_files)
        if frontier_head is None:
            return {}
        if cfg.exact_claim:
            claimed = (
                frontier_head
                .orderBy("priority", F.least(F.col("depth"), F.lit(127)),
                         "docid")
                .limit(cfg.round_size)
            )
        else:
            claimed = frontier_head  # whole head files (≈ round_size rows)

        # --- politeness slots + process order (O1-O4) ---
        slot_caches: list = []
        slotted = assign_slots(
            claimed, self._host_state_view(), self.clock, sim.politeness_ms,
            dense_seq_distributed=cfg.dense_seq_distributed,
            persisted_out=slot_caches)
        if cfg.max_host_slots_per_round is not None:
            # defer a hot host's tail beyond the cap: those rows are simply
            # not claimed (stay pending), so no host starves a round
            slotted = slotted.filter(
                F.col("slot") <= cfg.max_host_slots_per_round)
        claimed_entries = self.store.stage_dataframe(
            slotted, stats_cols=["docid"])
        # the staged parquet is the only consumer — free the rank cache now
        # rather than one leaked frame per round until GC
        for _c in slot_caches:
            _c.unpersist()
        mark("claim_slots")
        slotted = self.store.read("frontier_claimed_tmp", files=claimed_entries)
        if cfg.url_rewrite is not None:
            slotted = cfg.url_rewrite(slotted)
        n_claimed = sum(e["rows"] for e in claimed_entries)
        if n_claimed == 0:
            return {}
        self.round += 1

        # --- fetch (S5): pluggable transport, staged once ---
        # Every downstream consumer (redirects, parse, visited) reads the
        # staged fetch result, so the fetch happens exactly once per round.
        if cfg.fetch_fn is not None:
            # real-transport slot: a user DataFrame op (typically an HTTP
            # mapInPandas UDF) adds the fetch-result columns to the batch
            fetched_df = (
                cfg.fetch_fn(slotted)
                .withColumn("round", F.lit(self.round))
                # Page.load charset resolution rides the fetch staging pass:
                # one vectorized check per row, baked into the fetch log so
                # every downstream view filters a plain boolean column.
                .withColumn("bad_charset",
                            bad_charset_udf(F.col("content_type")))
            )
            fetched_entries = self.store.stage_dataframe(fetched_df)
        else:
            # Simulated transport: claimed ⋈ corpus. Join shape chosen for a
            # corpus ≫ broadcast threshold: the tiny claimed batch must be
            # the BUILD side, which a left-outer join (claimed
            # stream-preserved) cannot express — Spark would have to
            # build/shuffle the corpus. Instead: inner broadcast join with
            # claimed as build side (one streaming pass over the corpus, no
            # exchange), then the unmatched remainder via a broadcast
            # anti-join against the ≤round_size hit set, unioned back as
            # fetch-miss (404-shaped) rows.
            corpus = self.corpus()
            hits = (
                corpus.join(F.broadcast(slotted),
                            F.col("doc_id") == slotted.url, "inner")
                .drop("doc_id").withColumn("round", F.lit(self.round))
                # Page.load charset resolution (Page.java:129-135) baked
                # into the fetch log at staging time — unknown charset=
                # names route the page to the content-fetch-error channel.
                .withColumn("bad_charset",
                            bad_charset_udf(F.col("content_type")))
            )
            hit_entries = self.store.stage_dataframe(hits)
            hits = self.store.read("fetched_tmp", files=hit_entries)
            # Remainder (URL absent from the corpus -> fetch miss / 404
            # path): anti-join against the ≤round_size staged hit set
            # (broadcast build), never against the corpus.
            misses = slotted.join(
                F.broadcast(hits.select(F.col("url").alias("_hit_url"))),
                slotted.url == F.col("_hit_url"), "left_anti")
            for name, dtype in corpus.dtypes:
                if name != "doc_id":
                    misses = misses.withColumn(name, F.lit(None).cast(dtype))
            misses = (misses.withColumn("round", F.lit(self.round))
                      .withColumn("bad_charset", F.lit(False)))
            miss_entries = self.store.stage_dataframe(
                misses.select(*hits.columns))
            fetched_entries = hit_entries + miss_entries
        mark("fetch")
        fetched = self.store.read("fetched_tmp", files=fetched_entries)

        # --- redirect targets (raw, same depth — WebCrawler.java:399-430) ---
        redirect_cands = (
            fetched
            .filter(F.col("status_code").isin(list(REDIRECT_CODES))
                    & F.col("redirect_to").isNotNull())
            .select(
                F.col("redirect_to").alias("url"),
                F.lit("").alias("tag"),
                F.col("anchor"),
                F.lit(-1).alias("within_order"),
                F.col("parent_docid"),
                F.col("parent_url"),
                F.col("seed_docid"),
                # target keeps the redirected URL's depth (WebCrawler.java:418)
                # and skips the depth gate: parent_depth = depth-1 < max_depth
                # holds for any schedulable cur, so the shared gate is vacuous
                (F.col("depth") - 1).alias("parent_depth"),
                F.col("process_seq"),
            )
        ) if sim.follow_redirects else None

        # --- parse 200-pages (F1-F3, J2, O5, X2) ---
        ok_pages = fetched.filter(
            (F.col("status_code") == 200)
            & (F.col("content_length") <= sim.max_download_size)
            & ~F.col("bad_charset")  # Page.load failed -> no parse
        )
        outlink_cands = extract_candidates(
            ok_pages, sim.max_outlinks, sim.include_binary,
            sim.process_binary)

        candidates = outlink_cands
        if redirect_cands is not None:
            candidates = candidates.unionByName(redirect_cands)

        # --- round-local first-sight dedup then seen anti-join (J1) ---
        # First sighting per url = min over (process_seq, within_order) —
        # unique per url within a round (within_order is unique per page,
        # process_seq per parent; a redirect source has no outlinks), so a
        # min(struct(...)) GROUP BY picks exactly the row the old
        # row_number()-over-window form picked, but with map-side partial
        # combine: duplicate discoveries (~half the candidate stream at
        # bench fanout) collapse BEFORE the exchange instead of being
        # shuffled and sorted in full (guide §2.3 "aggregate before you
        # shuffle").
        first_cols = ["process_seq", "within_order"] + [
            c for c in candidates.columns
            if c not in ("url", "process_seq", "within_order")]
        candidates = (
            candidates
            .groupBy("url")
            .agg(F.min(F.struct(*first_cols)).alias("_first"))
            .select("url", "_first.*")
            .select(*candidates.columns)  # restore original column order
        )
        candidates = with_bucket(candidates, "url", cfg.n_seen_buckets)
        # stage once: the candidate set feeds the bloom probe, the anti-join
        # AND the dedup-throughput metric without recomputing the parse
        cand_entries = self.store.stage_dataframe(candidates)
        mark("parse_candidates")
        candidates = self.store.read("candidates_tmp", files=cand_entries)
        n_deduped = sum(e["rows"] for e in cand_entries)
        # the round frees exactly what it creates (never the caller's
        # cached frames): the probed candidates, mint's internal cache and
        # the bloom-bitmap broadcast, released once the round's last job ran
        round_caches: list = []
        round_broadcasts: list = []
        candidates = self._probe_blooms(candidates, round_broadcasts)
        # both branches below consume the probed set: persist so the bloom
        # probe (and its upstream) runs once
        candidates = candidates.persist()
        round_caches.append(candidates)

        seen = self._read("seen")
        if seen is not None:
            maybe = candidates.filter(F.col("maybe_seen"))
            definite = candidates.filter(~F.col("maybe_seen"))
            survived = maybe.join(
                seen.select("url", "bucket"), ["url", "bucket"], "left_anti")
            fresh = definite.unionByName(survived).drop("maybe_seen")
        else:
            fresh = candidates.drop("maybe_seen")

        # --- mint docids in arrival order (J1 hard part) ---
        minted = mint_docids(fresh, self.last_docid, n_claimed, cfg.mint_buckets,
                             persisted_out=round_caches)
        # The slim (url, docid, bucket) projection IS the round's durable
        # artifact — stage it directly as the seen-table delta. This action
        # pays mint's bucket sort once; the gates below recompute the window
        # from mint's internal cache (measured cheap — the sort of a round's
        # rows, no cache write) instead of round-tripping a full-width
        # minted copy through parquet. One write job less per round, and
        # the 10^10-row seen table keeps slim files (no parse payload).
        seen_entries = self.store.stage_dataframe(
            minted.select("url", "docid", "bucket"))
        mark("dedup_mint")
        n_minted = sum(e["rows"] for e in seen_entries)

        # --- gates: depth (F7), shouldVisit (F4), robots (F5/F6/J4) ---
        admissible = minted.withColumn("depth", F.col("parent_depth") + 1)
        if sim.max_depth != -1:
            admissible = admissible.filter(F.col("parent_depth") < sim.max_depth)
        if cfg.should_visit_pattern is not None:
            admissible = admissible.filter(
                F.col("url").rlike(cfg.should_visit_pattern))
        admissible = admissible.withColumn("host", host_udf(F.col("url")))
        robots = self._read("robots_rules")
        if robots is not None and sim.robots_enabled:
            admissible = (
                admissible.join(F.broadcast(robots.drop("fetched_at")),
                                "host", "left")
                .withColumn("rpath", path_udf(F.col("url")))
                .filter(robots_allow_udf(
                    F.col("rpath"), F.col("gen_disallow"), F.col("gen_allow"),
                    F.col("spec_disallow"), F.col("spec_allow")))
                .drop("rpath", "gen_disallow", "gen_allow",
                      "spec_disallow", "spec_allow")
            )

        # --- max-pages admission in mint order (F8) ---
        if sim.max_pages > 0:
            budget = max(sim.max_pages - self.scheduled_pages, 0)
            admissible = (
                admissible.orderBy("docid").limit(budget)
            )
        admitted = admissible.select(
            "url", "docid", "parent_docid", "parent_url", "seed_docid",
            F.col("depth").cast("int"),
            F.lit(0).alias("priority"),  # outlinks always priority 0
            "anchor", "tag", "host",
        )
        admitted_entries = self.store.stage_dataframe(
            admitted, stats_cols=["priority", "depth", "docid"])
        mark("gates_admit")
        n_admitted = sum(e["rows"] for e in admitted_entries)

        # --- visited documents + error channel via the fetch log (S7) ---
        # The staged fetch result IS the per-round page log: committing its
        # files as `fetch_log` (with a round column baked in at fetch time)
        # gives the documents and errors tables as filtered *views* — two
        # fewer materializations per round. All three per-round scalars
        # (visited count, error count, politeness clock advance) come out of
        # ONE aggregation job over the staged fetch files — fetched carries
        # the slotted columns, so eff_time is available here too.
        is_ok = ((F.col("status_code") == 200)
                 & (F.col("content_length") <= sim.max_download_size))
        visited_cond = is_ok & ~F.col("bad_charset") & (
            ~F.lower(F.col("content_type")).rlike("image|audio|video|application")
            | F.lit(sim.include_binary))
        # Redirect statuses never reach the error channel regardless of
        # follow_redirects: WebCrawler.java invokes no error handler for 3xx
        # (refsim.py records nothing either way). A 200 page whose charset
        # failed Page.load is a content-fetch error (onContentFetchError).
        err_cond = (
            ((F.col("status_code").isNull() | (F.col("status_code") != 200)
              | (F.col("content_length") > sim.max_download_size))
             & ~F.col("status_code").isin(list(REDIRECT_CODES)))
            | (is_ok & F.col("bad_charset")))

        # --- bloom update over the staged (slim) seen delta ---
        seen_delta = self.store.read("seen", files=seen_entries)
        if seen_delta is None:
            seen_delta = self.spark.createDataFrame([], SEEN_SCHEMA)
        bloom_new = update_blooms(
            seen_delta, self._read("seen_bloom"),
            cfg.n_seen_buckets, cfg.expected_urls_per_bucket)
        # AQE stays ON: the shuffle INPUT is the round's seen delta and the
        # per-bucket bitmap build wants full-width parallelism — only the
        # output is bounded by n_seen_buckets rows
        bloom_entries = self.store.stage_dataframe(bloom_new.coalesce(4))
        mark("bloom_update")

        # --- frontier: drop claimed rows (file-pruned rewrite) ---
        claimed_ids = slotted.select("docid")
        frontier_files = self.store.table_files("frontier")
        # only head files can contain claimed rows; rewrite those
        head_paths = {e["path"] for e in head_files}
        survivors = self.store.read(
            "frontier", files=[e for e in frontier_files if e["path"] in head_paths])
        new_head_entries: list[dict] = []
        if survivors is not None:
            # keep the frontier's column order (a join leads with its key):
            # every frontier file then carries one schema id, so the head
            # read needs no schema inference and keeps one column order
            remaining = (survivors.join(claimed_ids, "docid", "left_anti")
                         .select(*survivors.columns))
            new_head_entries = self.store.stage_dataframe(
                remaining, stats_cols=["priority", "depth", "docid"])
        untouched = [e for e in frontier_files if e["path"] not in head_paths]
        frontier_entries = untouched + new_head_entries + admitted_entries
        mark("frontier_rewrite")

        # --- round_state: politeness carry (O4) + seed-offspring counts
        # (J5) + fetch-log scalars, in ONE staged union table. Formerly
        # three write jobs plus a scalar collect per round — pure fixed
        # cost. Every branch reads only staged parquet (claimed, admitted,
        # fetched files, previous round_state), so the union's concurrent
        # branch scheduling under AQE touches no unmaterialized cache.
        carry = new_host_carry(slotted, self.clock, sim.politeness_ms)
        old_state = self._host_state_view()
        if old_state is not None:
            # keep future entries of hosts not fetched this round
            carry = (
                old_state.join(carry.select("host"), "host", "left_anti")
                .filter(F.col("next_time") >= self.clock)   # prune expired
                .unionByName(carry)
            )

        # seed_counts(seed_docid, cnt) = live pending rows per seed,
        # maintained by round deltas (claimed−, admitted+) so the cost is
        # O(round), never a scan of the 10^10-row frontier. cnt→0 ⇒ ended.
        claimed_per_seed = slotted.groupBy("seed_docid").agg(
            F.count("*").alias("claimed_n"))
        admitted_df = self.store.read("frontier", files=admitted_entries)
        if admitted_df is not None:
            admitted_per_seed = admitted_df.groupBy("seed_docid").agg(
                F.count("*").alias("admitted_n"))
        else:
            admitted_per_seed = self.spark.createDataFrame(
                [], "seed_docid long, admitted_n long")
        old_counts = self._seed_counts_view()
        if old_counts is None:
            old_counts = self.spark.createDataFrame(
                [], "seed_docid long, cnt long, ended_round int")
        new_cnt = (F.coalesce(F.col("cnt"), F.lit(0))
                   - F.coalesce(F.col("claimed_n"), F.lit(0))
                   + F.coalesce(F.col("admitted_n"), F.lit(0)))
        # live counts and end events share the rows: ended_round is stamped
        # the first round cnt reaches 0 and then sticks (exactly-once
        # emission); seed_events() is a filtered view.
        merged = (
            old_counts.join(claimed_per_seed, "seed_docid", "outer")
            .join(admitted_per_seed, "seed_docid", "outer")
            .select(
                "seed_docid",
                new_cnt.alias("cnt"),
                F.coalesce(
                    F.col("ended_round"),
                    F.when(new_cnt <= 0, F.lit(self.round)),
                ).cast("int").alias("ended_round"))
        )

        scalars = fetched.agg(
            F.sum(F.when(visited_cond, 1).otherwise(0)).cast("long")
            .alias("s_visited"),
            F.sum(F.when(err_cond, 1).otherwise(0)).cast("long")
            .alias("s_err"),
            F.max("eff_time").cast("long").alias("s_max_eff"),
        )
        round_state = (
            _rs_align(carry, "host")
            .unionByName(_rs_align(merged, "seed"))
            .unionByName(_rs_align(scalars, "scalars"))
        )
        rs_entries = self.store.stage_dataframe(round_state.coalesce(4))
        n_visited, n_err, max_eff = self._read_round_scalars(rs_entries)
        new_clock = self.clock + int(max_eff)
        mark("round_state")

        # --- metrics (A1/A2) with per-partition lineage ---
        # Counters ride the commit manifest (no Spark write job): they are
        # driver-known scalars, and the manifest history IS the metrics
        # table — metrics() reconstructs the DataFrame on demand.
        n_errors = n_err
        self.processed_pages += n_claimed
        self.scheduled_pages += n_admitted
        self.last_docid += n_minted
        counters = {
            "scheduled_pages": n_admitted,
            "processed_pages": n_claimed,
            "minted_docids": n_minted,
            "visited_pages": n_visited,
            "error_pages": n_errors,
            "deduped_candidates": n_deduped,
        }

        self.clock = new_clock
        for frame in round_caches:
            frame.unpersist()
        for bc in round_broadcasts:
            bc.destroy()
        replaces = {
            "frontier": frontier_entries,
            "seen_bloom": bloom_entries,
            "round_state": rs_entries,
        }
        # a resumed pre-merge store carried standalone host_state /
        # seed_counts tables; their content is folded into round_state by
        # the views above, so drop them at the first new-format commit
        tables_now = self.store.manifest().get("tables", {})
        for legacy in ("host_state", "seed_counts"):
            if legacy in tables_now:
                replaces[legacy] = []
        self.store.commit(
            adds={
                "seen": seen_entries,
                "fetch_log": fetched_entries,
            },
            replaces=replaces,
            props=self._props(),
            lineage={
                "round": self.round,
                "claimed_files": [e["path"] for e in claimed_entries],
                "minted_files": [e["path"] for e in seen_entries],
                "head_files_rewritten": sorted(head_paths),
                "n_claimed": n_claimed,
                "n_minted": n_minted,
                "n_admitted": n_admitted,
                "counters": counters,
            },
        )
        tracker = self.spark.sparkContext.statusTracker()
        n_jobs = len(tracker.getJobIdsForGroup(job_group))
        return {
            "round": self.round,
            "claimed": n_claimed,
            "deduped": n_deduped,
            "minted": n_minted,
            "admitted": n_admitted,
            "visited": n_visited,
            "pending": self.frontier_pending(),
            "wall_sec": time.time() - t0,
            "jobs": n_jobs,
            "phases": phases,
            "phase_jobs": phase_jobs,
        }

    def _props(self) -> dict:
        return {
            "round": self.round,
            "last_docid": self.last_docid,
            "scheduled_pages": self.scheduled_pages,
            "processed_pages": self.processed_pages,
            "clock": self.clock,
            "robots_refreshed_at": self._robots_refreshed_at,
        }

    def crawl(self, max_rounds: int = 10_000) -> list[dict]:
        out = []
        while self.frontier_pending() > 0 and len(out) < max_rounds:
            m = self.run_round()
            if not m:
                break
            out.append(m)
            every = self.cfg.authority_every
            if (every and self.round % every == 0
                    and self.frontier_pending() > 0):
                from ..operators.graph import pagerank
                ranks = pagerank(self.host_link_edges(),
                                 n_iter=self.cfg.authority_iters)
                self.reprioritize_frontier(
                    ranks.withColumnRenamed("node", "host"),
                    scale=self.cfg.authority_scale)
            if self.round % 5 == 0:
                # sweep per-round staging temps + files dereferenced by
                # frontier/bloom replacements (only the current snapshot
                # is retained — no time travel)
                self.store.gc_unreferenced()
        return out

    # ------------------------------------------------------------- results

    def documents(self) -> DataFrame | None:
        """Visited-page log (S7): status-200, parse-allowed rows of the
        fetch log, with their interleaved spans."""
        log = self._fetch_log_with_charset()
        if log is None:
            return None
        sim = self.cfg.sim
        return log.filter(
            (F.col("status_code") == 200)
            & (F.col("content_length") <= sim.max_download_size)
            & ~F.col("bad_charset")
            & (~F.lower(F.col("content_type"))
               .rlike("image|audio|video|application")
               | F.lit(sim.include_binary))
        ).select("url", "docid", "depth", "seed_docid", "process_seq",
                 "round", "content_type", "spans")

    def _fetch_log_with_charset(self) -> DataFrame | None:
        """fetch_log with bad_charset guaranteed present and non-null.
        Reads with schema merge so a resumed store mixing pre-/post-round-3
        files is deterministic (the column would otherwise appear or vanish
        depending on which file Spark samples); rows from old files read as
        null → coalesced to False, the faithful backfill (those rounds
        decoded with the pre-check semantics)."""
        log = self.store.read("fetch_log", merge_schema=True)
        if log is None:
            return None
        if "bad_charset" not in log.columns:
            log = log.withColumn("bad_charset", F.lit(False))
        else:
            log = log.withColumn(
                "bad_charset", F.coalesce(F.col("bad_charset"), F.lit(False)))
        return log

    def errors_log(self) -> DataFrame | None:
        """Error channel (status routing incl. 404/too-big/charset)."""
        log = self._fetch_log_with_charset()
        if log is None:
            return None
        sim = self.cfg.sim
        return log.select(
            "url", "docid", "depth", "process_seq", "round",
            F.when(F.col("status_code").isNull(), F.lit(404))
            .when((F.col("status_code") == 200)
                  & (F.col("content_length") > sim.max_download_size),
                  F.lit(PAGE_TOO_BIG))
            .when((F.col("status_code") == 200) & F.col("bad_charset"),
                  F.lit(CONTENT_FETCH_ERROR))
            .otherwise(F.col("status_code")).alias("status"),
        ).filter(
            # 3xx never hits the error channel, even with follow_redirects
            # off (WebCrawler.java calls no error handler for redirects).
            (F.col("status") != 200)
            & ~F.col("status").isin(list(REDIRECT_CODES)))

    def seed_events(self) -> DataFrame | None:
        """J5 handleSeedEnd events as a filtered view over seed_counts:
        one row (seed_docid, round) per seed whose offspring drained —
        ended_round is stamped once and sticks, so emission is exactly-once
        without a separate per-round event staging."""
        counts = self._seed_counts_view()
        if counts is None:
            return None
        return counts.filter(F.col("ended_round").isNotNull()).select(
            "seed_docid", F.col("ended_round").alias("round"))

    def metrics(self) -> DataFrame:
        """A1/A3 counters table reconstructed from the commit-manifest
        lineage (counters are driver-known scalars; writing them as a
        per-round parquet job would be pure fixed cost)."""
        rows = []
        for lin in self.store.lineage_history():
            rnd = lin.get("round")
            for counter, value in (lin.get("counters") or {}).items():
                rows.append((rnd, counter, value))
        return self.spark.createDataFrame(
            rows, "round int, counter string, value long")

    def visited_log(self):
        """Visited pages ordered by (round, process_seq) — the engine's
        crawl order for parity checks."""
        docs = self.documents()
        if docs is None:
            return None
        return docs.orderBy("round", "process_seq")

    def seen_map(self) -> dict[str, int]:
        seen = self._read("seen")
        if seen is None:
            return {}
        return {r["url"]: r["docid"] for r in seen.select("url", "docid").collect()}
