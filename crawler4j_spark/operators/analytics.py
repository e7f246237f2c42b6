"""Query registry for the driver contract (__spark_entry__).

One entry per implemented operator family from SURVEY.md §2 plus the
training-data pipeline operators (dedup / similarity / text analysis /
multimodal). Each entry pairs an idiomatic-Spark implementation
``fn(spark, sf_dir) -> DataFrame`` with (where SQL-expressible) an
equivalent DuckDB oracle SQL string over the same parquet tables. The
driver runs both and compares row-count + schema + value-hash — this is
the correctness gate; pytest (tests/test_entry.py) runs the same
comparison in-repo.

Conventions that make the hash-compare sound:
* every computed column aliased identically on both sides;
* float outputs rounded to 6 dp on both sides;
* deterministic total ordering where LIMIT is involved (explicit
  tie-break columns).

Crawl-operator analogs derive a synthetic frontier from the ``orders``
table with pure arithmetic (docid := o_orderkey, priority := o_orderkey%7-3,
depth := o_custkey%12, host := 'h'||o_orderkey%40) so both engines see the
identical input, while exercising exactly the Spark plan shapes the real
engine uses (ordered claim, anti-join dedup, window slots, mint numbering).
"""

from __future__ import annotations

from typing import Callable, Optional

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

REGISTRY: dict[str, tuple[Callable[[SparkSession, str], DataFrame], Optional[str]]] = {}


def register(name: str, oracle: Optional[str]):
    def deco(fn):
        REGISTRY[name] = (fn, oracle)
        return fn
    return deco


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def _spread(spark: SparkSession, df: DataFrame, key: str = None) -> DataFrame:
    """Repartition to the session's shuffle parallelism right after a scan.

    The test tables are SINGLE-ROW-GROUP parquet files, and a parquet
    split below row-group granularity yields no rows — so however many
    splits the scan is given, every row lands in one task and all compute
    stacked on the scan (explode, md5, dot products, Python stages) runs
    on ONE core (guide §2.5 "input skew: one huge unsplittable file …
    repartition immediately after the read"). One tiny exchange of the
    base rows unlocks full-width parallelism for the expensive work
    above it. With ``key`` the exchange is HASH partitioning — unlike
    keyless round-robin it pays no sort-before-repartition on the (serial)
    map side and is retry-deterministic; high-cardinality ids spread
    evenly (guide §2.5). Partition count follows
    spark.sql.shuffle.partitions (scale-adaptive — never a hard-coded
    core count); on a real multi-file table the repartition stays a
    harmless rebalance, and callers with cheap per-row work skip it."""
    n = int(spark.conf.get("spark.sql.shuffle.partitions"))
    if key is not None:
        return df.repartition(n, F.col(key))
    return df.repartition(n)


def _frontier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Synthetic frontier from orders (same derivation as the oracle CTE)."""
    return _t(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("docid"),
        (F.col("o_orderkey") % 7 - 2).cast("int").alias("priority"),
        (F.col("o_custkey") % 12).cast("int").alias("depth"),
        F.concat(F.lit("h"), (F.col("o_orderkey") % 40)).alias("host"),
        F.col("o_custkey").alias("seed_docid"),
    )


_FRONTIER_CTE = """
WITH frontier AS (
  SELECT o_orderkey AS docid,
         CAST(o_orderkey % 7 - 2 AS INT) AS priority,
         CAST(o_custkey % 12 AS INT) AS depth,
         'h' || CAST(o_orderkey % 40 AS VARCHAR) AS host,
         o_custkey AS seed_docid
  FROM orders
)
"""

# ---------------------------------------------------------------------------
# Crawl-operator analogs (SURVEY §2)
# ---------------------------------------------------------------------------


@register("frontier_claim", _FRONTIER_CTE + """
SELECT docid, priority, depth, host
FROM frontier
ORDER BY priority, LEAST(depth, 127), docid
LIMIT 100
""")
def q_frontier_claim(spark, sf_dir):
    """S3/O1/O2: destructive ordered claim = ORDER BY (priority, min(depth,127),
    docid) LIMIT K. Catalyst plans TakeOrderedAndProject — no full sort.
    Ref: frontier/WorkQueues.java:86-133,196-209."""
    return (
        _frontier(spark, sf_dir)
        .orderBy("priority", F.least(F.col("depth"), F.lit(127)), "docid")
        .select("docid", "priority", "depth", "host")
        .limit(100)
    )


@register("politeness_slots", _FRONTIER_CTE + """
, claimed AS (
  SELECT * FROM frontier ORDER BY priority, LEAST(depth,127), docid LIMIT 1000
)
SELECT docid, host,
       CAST(ROW_NUMBER() OVER (PARTITION BY host
            ORDER BY priority, LEAST(depth,127), docid) AS BIGINT) AS slot,
       CAST((ROW_NUMBER() OVER (PARTITION BY host
            ORDER BY priority, LEAST(depth,127), docid) - 1) * 200 AS BIGINT)
            AS eff_time
FROM claimed
""")
def q_politeness_slots(spark, sf_dir):
    """O3/O4: per-host politeness slots as a window over the claimed batch
    (order-equivalent to PageFetcher.getBestURL's greedy loop).
    Ref: fetcher/PageFetcher.java:173-261."""
    claimed = (
        _frontier(spark, sf_dir)
        .orderBy("priority", F.least(F.col("depth"), F.lit(127)), "docid")
        .limit(1000)
    )
    w = Window.partitionBy("host").orderBy(
        "priority", F.least(F.col("depth"), F.lit(127)), "docid")
    return claimed.select(
        "docid", "host",
        F.row_number().over(w).cast("long").alias("slot"),
        ((F.row_number().over(w) - 1) * 200).cast("long").alias("eff_time"),
    )


@register("docid_mint", _FRONTIER_CTE + """
, claimed AS (
  SELECT * FROM frontier ORDER BY priority, LEAST(depth,127), docid LIMIT 1000
)
SELECT docid AS old_docid,
       CAST(1000000 + ROW_NUMBER() OVER (
           ORDER BY priority, LEAST(depth,127), docid) AS BIGINT) AS minted_docid
FROM claimed
""")
def q_docid_mint(spark, sf_dir):
    """J1 (hard part): arrival-order docid minting = dense numbering over the
    discovery order; the engine's distributed version is operators/mint.py.
    Ref: frontier/DocIDServer.java:87-99."""
    claimed = (
        _frontier(spark, sf_dir)
        .orderBy("priority", F.least(F.col("depth"), F.lit(127)), "docid")
        .limit(1000)
    )
    w = Window.orderBy("priority", F.least(F.col("depth"), F.lit(127)), "docid")
    return claimed.select(
        F.col("docid").alias("old_docid"),
        (F.lit(1000000) + F.row_number().over(w)).cast("long").alias("minted_docid"),
    )


@register("seen_antijoin", """
SELECT DISTINCT l_orderkey AS url_key
FROM lineitem
WHERE l_partkey % 3 = 0
  AND l_orderkey NOT IN (SELECT o_orderkey FROM orders WHERE o_orderkey % 2 = 0)
""")
def q_seen_antijoin(spark, sf_dir):
    """J1: URL-seen dedup as a LEFT ANTI join (the engine adds a bloom
    pre-filter; operators/seen_filter.py). Ref: DocIDServer.java:87-99."""
    # Round-6 order (guide §2.3 "shuffle fewer bytes"): the broadcast
    # anti-join runs BEFORE the distinct, so the distinct's exchange
    # carries only the keys that survive the seen-filter (~half), instead
    # of deduplicating everything and then dropping half of it. Anti-join
    # is a per-row key-membership filter, so it commutes with distinct —
    # identical result set.
    cand = (
        _t(spark, sf_dir, "lineitem")
        .filter(F.col("l_partkey") % 3 == 0)
        .select(F.col("l_orderkey").alias("url_key"))
    )
    seen = (
        _t(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") % 2 == 0)
        .select(F.col("o_orderkey").alias("url_key"))
    )
    return cand.join(seen, "url_key", "left_anti").distinct()


@register("frontier_key_dedup", """
SELECT DISTINCT CAST(l_orderkey % 50 AS INT) AS priority,
       CAST(l_linenumber AS INT) AS depth,
       CAST(l_partkey % 1000 AS BIGINT) AS docid
FROM lineitem
""")
def q_frontier_key_dedup(spark, sf_dir):
    """J3: frontier key dedup on (priority, depth, docid).
    Ref: frontier/WorkQueues.java:222-229."""
    return (
        _t(spark, sf_dir, "lineitem")
        .select(
            (F.col("l_orderkey") % 50).cast("int").alias("priority"),
            F.col("l_linenumber").cast("int").alias("depth"),
            (F.col("l_partkey") % 1000).cast("long").alias("docid"),
        )
        .distinct()
    )


@register("seed_offspring", _FRONTIER_CTE + """
SELECT seed_docid, CAST(COUNT(*) AS BIGINT) AS offspring
FROM frontier GROUP BY seed_docid
""")
def q_seed_offspring(spark, sf_dir):
    """J5: per-seed live offspring accounting (seed-end events fire when the
    count reaches 0). Ref: frontier/WorkQueues.java:135-183."""
    return (
        _frontier(spark, sf_dir)
        .groupBy("seed_docid")
        .agg(F.count("*").alias("offspring"))
    )


@register("depth_gate", _FRONTIER_CTE + """
SELECT depth, CAST(COUNT(*) AS BIGINT) AS n
FROM frontier WHERE depth < 6 GROUP BY depth
""")
def q_depth_gate(spark, sf_dir):
    """F7: max-depth gate as a pushed-down filter.
    Ref: crawler/WebCrawler.java:466-479."""
    return (
        _frontier(spark, sf_dir)
        .filter(F.col("depth") < 6)
        .groupBy("depth")
        .agg(F.count("*").alias("n"))
    )


@register("max_pages_admission", _FRONTIER_CTE + """
SELECT docid, priority, depth
FROM frontier
ORDER BY priority, LEAST(depth,127), docid
LIMIT 500
""")
def q_max_pages_admission(spark, sf_dir):
    """F8: max-pages admission = arrival-ordered LIMIT against the remaining
    budget. Ref: frontier/Frontier.java:86-129."""
    return (
        _frontier(spark, sf_dir)
        .orderBy("priority", F.least(F.col("depth"), F.lit(127)), "docid")
        .select("docid", "priority", "depth")
        .limit(500)
    )


@register("counters_rollup", """
SELECT l_returnflag AS flag, l_linestatus AS status,
       CAST(COUNT(*) AS BIGINT) AS n_items,
       CAST(SUM(l_quantity) AS DOUBLE) AS sum_qty,
       ROUND(AVG(l_extendedprice), 6) AS avg_price
FROM lineitem
WHERE l_shipdate <= DATE '1998-09-02'
GROUP BY l_returnflag, l_linestatus
""")
def q_counters_rollup(spark, sf_dir):
    """A1/A3: durable counters → partial-agg rollup (map-side combine; the
    engine's metrics table). Ref: frontier/Counters.java:84-119,
    examples/localdata/LocalDataCollectorCrawler.java:46-66."""
    return (
        _t(spark, sf_dir, "lineitem")
        .filter(F.col("l_shipdate") <= F.lit("1998-09-02"))
        .groupBy(
            F.col("l_returnflag").alias("flag"),
            F.col("l_linestatus").alias("status"))
        .agg(
            F.count("*").alias("n_items"),
            F.sum("l_quantity").cast("double").alias("sum_qty"),
            F.round(F.avg("l_extendedprice"), 6).alias("avg_price"),
        )
    )


@register("queue_length", """
SELECT CASE WHEN o_orderstatus = 'O' THEN 'pending'
            WHEN o_orderstatus = 'P' THEN 'in_progress'
            ELSE 'processed' END AS status,
       CAST(COUNT(*) AS BIGINT) AS n
FROM orders GROUP BY 1
""")
def q_queue_length(spark, sf_dir):
    """A2: queue length by status — implementing the *intended* BOTH_QUEUES
    semantics (the fork's getQueueLength() always returns 0: WORK_QUEUE &
    IN_PROGRESS_QUEUE == 0, Frontier.java:207-209 — documented deviation)."""
    return (
        _t(spark, sf_dir, "orders")
        .select(
            F.when(F.col("o_orderstatus") == "O", "pending")
            .when(F.col("o_orderstatus") == "P", "in_progress")
            .otherwise("processed").alias("status"))
        .groupBy("status")
        .agg(F.count("*").alias("n"))
    )


# ---------------------------------------------------------------------------
# Kernel-backed crawl functions (F1/F11/X5/F9/F5) — Spark side runs the real
# pandas-UDF kernels; the oracle reconstructs the expected output with string
# arithmetic valid on this restricted, deterministically-built URL family.
# ---------------------------------------------------------------------------


def _url_family(spark, sf_dir):
    """Deterministic raw URLs from part: uppercase host, unsorted query with
    a session-id param, dot-segment path — all canonicalizer-relevant.
    _spread (guide §2.5): the consumers run the canonicalize/domain pandas
    UDF kernels, which otherwise execute in ONE Python worker on the
    single-row-group input (noop-isolated: 3.5 s → parallel)."""
    return _spread(spark, _t(spark, sf_dir, "part"), "p_partkey").select(
        "p_partkey",
        F.concat(
            F.lit("http://HOST"), (F.col("p_partkey") % 20).cast("string"),
            F.lit(".Example.COM/a/../item/"),
            F.regexp_replace(F.col("p_name"), " ", "-"),
            F.lit("?b=2&a=1&jsessionid=ABC"),
        ).alias("raw_url"),
    )


@register("url_canonicalize", """
SELECT p_partkey,
       'http://host' || CAST(p_partkey % 20 AS VARCHAR) || '.example.com/item/'
         || REPLACE(p_name, ' ', '-') || '?a=1&b=2' AS canonical_url
FROM part
""")
def q_url_canonicalize(spark, sf_dir):
    """F1/F2: URL canonicalization (lowercase host, ../ fold, query sort,
    session-id strip) via the vectorized kernel UDF.
    Ref: url/URLCanonicalizer.java:43-210, url/UrlResolver.java:81-390."""
    from ..functions.udfs import canonicalize_udf

    return _url_family(spark, sf_dir).select(
        "p_partkey", canonicalize_udf(F.col("raw_url")).alias("canonical_url"))


@register("domain_split", """
SELECT p_partkey,
       'host' || CAST(p_partkey % 20 AS VARCHAR) || '.example.com' AS full_host,
       'example.com' AS domain,
       'host' || CAST(p_partkey % 20 AS VARCHAR) AS subdomain
FROM part
""")
def q_domain_split(spark, sf_dir):
    """F11: registrable-domain/subdomain split (public-suffix aware).
    Ref: url/WebURL.java:117-153."""
    from ..functions.udfs import canonicalize_udf, domain_split_udf, host_udf

    fam = _url_family(spark, sf_dir).select(
        "p_partkey", canonicalize_udf(F.col("raw_url")).alias("url"))
    return fam.select(
        "p_partkey",
        host_udf(F.col("url")).alias("full_host"),
        domain_split_udf(F.col("url")).alias("ds"),
    ).select(
        "p_partkey", "full_host",
        F.col("ds.domain").alias("domain"),
        F.col("ds.subdomain").alias("subdomain"),
    )


@register("anchor_normalize", """
WITH raw AS (
  SELECT p_partkey,
         p_name || ' ' || p_name || ' ' || p_name || ' ' || p_name || ' ' || p_name AS a
  FROM part
), norm AS (
  SELECT p_partkey,
         TRIM(REPLACE(REPLACE(a, CHR(10), ' '), CHR(9), ' ')) AS a
  FROM raw
)
SELECT p_partkey,
       CASE WHEN LENGTH(a) > 100 THEN SUBSTR(a, 1, 100) || '...' ELSE a END AS anchor
FROM norm
""")
def q_anchor_normalize(spark, sf_dir):
    """X5: anchor whitespace-normalization + 100-char cap via the kernel.
    Ref: parser/HtmlContentHandler.java:31,166-173."""
    import pandas as pd  # noqa: F811
    from pyspark.sql.types import StringType

    from ..functions.netkit import normalize_anchor

    @F.pandas_udf(StringType())
    def norm_udf(s: pd.Series) -> pd.Series:
        return s.map(normalize_anchor)

    # _spread: per-element kernel UDF over a single-row-group input
    return _spread(spark, _t(spark, sf_dir, "part"), "p_partkey").select(
        "p_partkey",
        norm_udf(F.concat_ws(
            " ", "p_name", "p_name", "p_name", "p_name", "p_name"))
        .alias("anchor"),
    )


@register("content_type_dispatch", """
SELECT ctype,
       CASE WHEN LOWER(ctype) LIKE '%image%' OR LOWER(ctype) LIKE '%audio%'
              OR LOWER(ctype) LIKE '%video%' OR LOWER(ctype) LIKE '%application%'
            THEN 'binary'
            WHEN LOWER(ctype) LIKE '%text%' AND LOWER(ctype) NOT LIKE '%html%'
            THEN 'text'
            ELSE 'html' END AS dispatch,
       CAST(COUNT(*) AS BIGINT) AS n
FROM (SELECT CASE p_partkey % 5
             WHEN 0 THEN 'text/html; charset=UTF-8'
             WHEN 1 THEN 'text/plain'
             WHEN 2 THEN 'image/png'
             WHEN 3 THEN 'application/pdf'
             ELSE 'TEXT/HTML' END AS ctype
      FROM part)
GROUP BY 1, 2
""")
def q_content_type_dispatch(spark, sf_dir):
    """F9/X3: binary vs plain-text vs HTML dispatch.
    Ref: util/Util.java:68-80, parser/Parser.java:59-93."""
    ctype = (
        _t(spark, sf_dir, "part")
        .select(
            F.when(F.col("p_partkey") % 5 == 0, "text/html; charset=UTF-8")
            .when(F.col("p_partkey") % 5 == 1, "text/plain")
            .when(F.col("p_partkey") % 5 == 2, "image/png")
            .when(F.col("p_partkey") % 5 == 3, "application/pdf")
            .otherwise("TEXT/HTML").alias("ctype"))
    )
    low = F.lower(F.col("ctype"))
    return (
        ctype.withColumn(
            "dispatch",
            F.when(
                low.contains("image") | low.contains("audio")
                | low.contains("video") | low.contains("application"), "binary")
            .when(low.contains("text") & ~low.contains("html"), "text")
            .otherwise("html"))
        .groupBy("ctype", "dispatch")
        .agg(F.count("*").alias("n"))
    )


@register("robots_prefix_gate", """
SELECT path,
       NOT (path LIKE '/private/%' OR path = '/private' OR path LIKE '/tmp%')
           AS allowed
FROM (SELECT CASE p_partkey % 4
             WHEN 0 THEN '/private/' || REPLACE(p_name, ' ', '-')
             WHEN 1 THEN '/tmp-' || CAST(p_partkey AS VARCHAR)
             WHEN 2 THEN '/public/' || CAST(p_partkey AS VARCHAR)
             ELSE '/' END AS path
      FROM part)
""")
def q_robots_prefix_gate(spark, sf_dir):
    """F5/F6: robots minimal-prefix allow decision via the real kernel against
    a fixed exact-UA ruleset {Disallow: /private/, Disallow: /tmp}; the oracle
    states the same decision as LIKE-prefix logic.
    Ref: robotstxt/RuleSet.java:28-52, RobotstxtServer.java:79."""
    import pandas as pd  # noqa: F811
    from pyspark.sql.types import BooleanType

    from ..functions.robots import parse_robots, robots_allows

    body = "User-agent: crawler4j\nDisallow: /private/\nDisallow: /tmp*\n"

    @F.pandas_udf(BooleanType())
    def allow_udf(paths: pd.Series) -> pd.Series:
        gen, spec = parse_robots(body, "crawler4j")
        return paths.map(lambda p: robots_allows(gen, spec, p))

    # _spread: per-element kernel UDF over a single-row-group input
    paths = _spread(spark, _t(spark, sf_dir, "part"), "p_partkey").select(
        F.when(F.col("p_partkey") % 4 == 0,
               F.concat(F.lit("/private/"),
                        F.regexp_replace("p_name", " ", "-")))
        .when(F.col("p_partkey") % 4 == 1,
              F.concat(F.lit("/tmp-"), F.col("p_partkey").cast("string")))
        .when(F.col("p_partkey") % 4 == 2,
              F.concat(F.lit("/public/"), F.col("p_partkey").cast("string")))
        .otherwise("/").alias("path"))
    return paths.select("path", allow_udf(F.col("path")).alias("allowed"))


# X2 fixtures: deterministic texts through the REAL Net.java regex port,
# expected URLs hand-derived from the Java pattern's semantics (same
# construct set in java.util.regex; quirks asserted on purpose):
#   t3  — a match starting "ftp://" is prefixed to "http://ftp://..."
#         (Net.java:25-26 prefixes anything not starting with "http");
#   t4  — "www." carries an unescaped dot but still needs word chars + dot
#         after it, so "wwwx.example.de" does NOT match;
#   t7  — a trailing "/" is dropped because \b cannot sit between '/' and
#         a space (both non-word);
#   t8  — the "/" and "~/" prefix alternatives are dead after whitespace
#         for the same \b reason: zero matches;
#   t6  — the reference collects into a HashSet: dup URLs emit once.
_URL_EXTRACT_FIXTURES = [
    ("t1", "visit http://example.com/page for info"),
    ("t2", "secure https://shop.example.org/cart?item=1&qty=2 now"),
    ("t3", "mirror at ftp://files.example.net/pub/file"),
    ("t4", "bare www.example.com link and wwwx.example.de quirk"),
    ("t5", "port http://example.com:8080/a and frag http://example.com/a#sec"),
    ("t6", "dup http://dup.example.com/x then http://dup.example.com/x again"),
    ("t7", "cctld http://example.de/ and http://example.io path-less"),
    ("t8", "slash-prefix see /foo.com/bar and tilde ~/tilde.org/x here"),
    ("t9", "no urls here at all"),
    ("t10", "query http://q.example.com/p?a=1&b=2#frag plus www.two.net/x"),
]

_URL_EXTRACT_ORACLE = """
SELECT * FROM (VALUES
  ('t1', 0, 'http://example.com/page'),
  ('t2', 0, 'https://shop.example.org/cart?item=1&qty=2'),
  ('t3', 0, 'http://ftp://files.example.net/pub/file'),
  ('t4', 0, 'http://www.example.com'),
  ('t5', 0, 'http://example.com:8080/a'),
  ('t5', 1, 'http://example.com/a#sec'),
  ('t6', 0, 'http://dup.example.com/x'),
  ('t7', 0, 'http://example.de'),
  ('t7', 1, 'http://example.io'),
  ('t10', 0, 'http://q.example.com/p?a=1&b=2#frag'),
  ('t10', 1, 'http://www.two.net/x')
) AS t(fixture, pos, url)
"""


@register("text_url_extract", _URL_EXTRACT_ORACLE)
def q_text_url_extract(spark, sf_dir):
    """X2: quirky URL regex extraction from plain text — fixture texts
    through the real Arrow-batched kernel, posexploded to (fixture, pos,
    url) rows, hash-compared against literal expected URLs (the
    robots_parse_fixture pattern; the regex itself has no SQL equivalent,
    so the oracle is the hand-derived expected output).
    Ref: util/Net.java:19-48."""
    import pandas as pd  # noqa: F811
    from pyspark.sql.types import ArrayType, StringType

    from ..functions.netkit import extract_urls

    @F.pandas_udf(ArrayType(StringType()))
    def extract_udf(texts: pd.Series) -> pd.Series:
        return texts.map(extract_urls)

    texts = spark.createDataFrame(_URL_EXTRACT_FIXTURES,
                                  "fixture string, text string")
    return texts.select(
        "fixture",
        F.posexplode(extract_udf(F.col("text"))).alias("pos", "url"))


# S8/F10 binary-outlink fixtures: raw payloads through the REAL
# binary_to_text (Tika-analog printable-run extraction,
# BinaryParseData.java:64-79) + extract_urls (Parser.java:74) kernels.
# Expected rows hand-derived from the two kernels' semantics:
#   b1 — PNG magic: "PNG" is a 3-byte printable run (< the 4-byte
#        strings(1) floor) and is dropped; the URL run survives intact;
#   b2 — PDF /URI action shape: "/URI (" cannot match ("/" prefix needs a
#        dotted host right after it), the parenthesis is outside the
#        regex's path class so the match stops at "doc"; the repeated URL
#        in a later run dedups to first occurrence (HashSet semantics);
#   b3 — ID3 WXXX frame: bare "www." match is prefixed with "http://"
#        (Net.java:25-26); the 4-byte "WXXX" run survives but matches
#        nothing;
#   b4 — NUL inside the host splits the URL into two runs, neither of
#        which matches ("exam" has no dot+TLD after the scheme; "/x" has
#        no host after the "/" prefix): Tika-noise yields nothing;
#   b5 — printable format noise ("GIF89a") but no URLs: zero rows;
#   b6 — empty payload = failed Tika parse (html null): zero rows.
_BINARY_OUTLINK_FIXTURES = [
    ("b1", b"\x89PNG\r\n\x1a\n\x00\x01http://example.com/logo.png\x00\xff"),
    ("b2", b"%PDF-1.4\n\x00/URI (http://a.example.org/doc)\x00junk\x00"
           b"http://b.example.net/x\x00http://a.example.org/doc\x00"),
    ("b3", b"ID3\x03\x00WXXX\x00www.example.com/track\x00"),
    ("b4", b"http://exam\x00ple.com/x\x00"),
    ("b5", b"\x00\x01\x02\x03GIF89a\x00\xff"),
    ("b6", b""),
]

_BINARY_OUTLINK_ORACLE = """
SELECT * FROM (VALUES
  ('b1', 0, 'http://example.com/logo.png'),
  ('b2', 0, 'http://a.example.org/doc'),
  ('b2', 1, 'http://b.example.net/x'),
  ('b3', 0, 'http://www.example.com/track')
) AS t(fixture, pos, url)
"""


@register("binary_outlinks", _BINARY_OUTLINK_ORACLE)
def q_binary_outlinks(spark, sf_dir):
    """S8/F10 outlink half: the reference's binary parse path renders the
    payload to text with Tika and extracts outlinks with the SAME URL
    regex as plain text (Parser.java:61-75); here the deterministic
    ``binary_to_text`` analog (strings(1)-style printable runs) feeds the
    ported regex, fixture payloads in, hand-derived literal rows out (the
    text_url_extract pattern — the kernels have no SQL equivalent)."""
    import pandas as pd  # noqa: F811
    from pyspark.sql.types import ArrayType, StringType

    from ..functions.netkit import binary_to_text, extract_urls

    @F.pandas_udf(ArrayType(StringType()))
    def outlinks_udf(payloads: pd.Series) -> pd.Series:
        return payloads.map(
            lambda d: extract_urls(binary_to_text(bytes(d))))

    payloads = spark.createDataFrame(
        [(f, bytearray(d)) for f, d in _BINARY_OUTLINK_FIXTURES],
        "fixture string, data binary")
    return payloads.select(
        "fixture",
        F.posexplode(outlinks_udf(F.col("data"))).alias("pos", "url"))


# ---------------------------------------------------------------------------
# Training-data pipeline operators over documents / embeddings / events.
# These are first-class engine components for the 100 TB use case: dedup
# (exact, MinHash-LSH, SimHash, n-gram Jaccard, embedding near-dup),
# similarity search (brute-force + LSH-bucketed ANN), text analysis, and
# multimodal binary plumbing.
# ---------------------------------------------------------------------------


def _tokens(spark, sf_dir, max_doc=None, spread=False):
    """(doc_id, tok, pos) via posexplode — shared by the text pipeline.

    ``spread=True`` hash-exchanges the doc rows by doc_id BEFORE the
    explode (single-row-group input, guide §2.5): the explode multiplies
    rows ~100x, so exchanging the base rows is far cheaper than any
    exchange above, and doc-keyed windows/groupBys downstream reuse the
    partitioning (no further exchange). Callers whose per-token work is
    heavy (shingle+md5 pipelines) want it; for cheap token counting the
    extra exchange costs more than the serial explode it parallelizes
    (measured: token_topn 0.47 s no-spread vs 0.78 s spread at sf1.0)."""
    docs = _t(spark, sf_dir, "documents")
    if max_doc is not None:
        docs = docs.filter(F.col("doc_id") < max_doc)
    if spread:
        docs = _spread(spark, docs, "doc_id")
    return docs.select(
        "doc_id", F.posexplode(F.split("text", " ")).alias("pos", "tok"))


# DuckDB equivalent of posexplode(split(text,' ')): fixed-range lateral
_TOKENS_CTE = """
WITH idx AS (SELECT UNNEST(RANGE(0, 256)) AS pos),
toks AS (
  SELECT doc_id, STRING_SPLIT(text, ' ') AS tl FROM documents {where}
),
tokens AS (
  SELECT doc_id, tl[pos + 1] AS tok, pos
  FROM toks JOIN idx ON pos < LEN(tl)
)
"""

_SHINGLES_CTE = """
, shingles AS (
  SELECT doc_id,
         tok || ' ' || LEAD(tok, 1) OVER w || ' ' || LEAD(tok, 2) OVER w AS shingle
  FROM tokens
  WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
  QUALIFY LEAD(tok, 2) OVER w IS NOT NULL
)
"""


def _shingles(spark, sf_dir, max_doc=None):
    """3-token shingles in document order (both dedup families share this).

    Round-6 (guide §2.4/§2.5): tokens are spread by doc_id BEFORE the
    explode, so this window and every doc-keyed aggregation above it
    reuse that hash distribution — the exploded token stream itself is
    never exchanged (the r5 plan exchanged all tokens here), and the
    heavy md5 work of the dedup family runs on every core instead of
    the single task an unsplittable input file allows."""
    toks = _tokens(spark, sf_dir, max_doc, spread=True)
    w = Window.partitionBy("doc_id").orderBy("pos")
    return (
        toks.withColumn("t1", F.lead("tok", 1).over(w))
        .withColumn("t2", F.lead("tok", 2).over(w))
        .filter(F.col("t2").isNotNull())
        .select("doc_id", F.concat_ws(" ", "tok", "t1", "t2").alias("shingle"))
    )


@register("dedup_exact", """
SELECT md5(text) AS text_hash,
       CAST(COUNT(*) AS BIGINT) AS n_copies,
       MIN(doc_id) AS keep_doc_id
FROM documents
GROUP BY md5(text)
""")
def q_dedup_exact(spark, sf_dir):
    """Exact dedup: hash-groupBy keeping the smallest doc_id per content
    hash (map-side partial agg; at 100 TB this is one shuffle on the hash)."""
    return (
        _t(spark, sf_dir, "documents")
        .groupBy(F.md5("text").alias("text_hash"))
        .agg(F.count("*").alias("n_copies"),
             F.min("doc_id").alias("keep_doc_id"))
    )


@register("dedup_minhash_lsh",
          _TOKENS_CTE.format(where="") + _SHINGLES_CTE + """
, salts AS (SELECT UNNEST(RANGE(0, 8)) AS salt),
mh AS (
  SELECT doc_id, salt,
         MIN(md5(CAST(salt AS VARCHAR) || '|' || shingle)) AS minhash
  FROM shingles CROSS JOIN salts
  GROUP BY doc_id, salt
),
bands AS (
  SELECT doc_id, CAST(salt // 2 AS INT) AS band,
         STRING_AGG(minhash, '' ORDER BY salt) AS bucket_sig
  FROM mh GROUP BY doc_id, CAST(salt // 2 AS INT)
)
SELECT band, bucket_sig,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       MIN(doc_id) AS min_doc
FROM bands GROUP BY band, bucket_sig
""")
def q_dedup_minhash_lsh(spark, sf_dir):
    """MinHash+LSH near-dup: shingle → 8 salted minhashes → 4 bands × 2 rows
    → band-bucket grouping. Buckets with n_docs ≥ 2 are candidate near-dup
    sets; the string-minhash (min over md5 hex ordering) is engine-portable.
    At scale the band join replaces the O(n²) pairwise comparison.

    Round-6 shape (guide §2.4/§2.5): the doc rows are hash-exchanged by
    doc_id BEFORE the token explode (inside ``_shingles``), so the window
    lead() AND this groupBy reuse that distribution — the r5 plan
    exchanged the ~100x-larger exploded token stream here instead, and
    on the single-row-group test input everything below that exchange
    ran on one core. The per-doc minhashes stay codegen'd min()
    aggregates with map-side partial combine. (Two rejected A/B'd
    variants: per-row array_min(transform(md5)) per salt — 3.7x slower,
    lambda bodies evaluate interpreted while min/md5 aggregates are
    codegen'd; arrays_zip-of-slices shingling — equal best-case speed
    but allocation-heavier, worse GC spikes.)"""
    sh = _shingles(spark, sf_dir)
    mh = sh.groupBy("doc_id").agg(*[
        F.min(F.md5(F.concat(F.lit(f"{s}|"), F.col("shingle"))))
        .alias(f"m{s}")
        for s in range(8)
    ])
    bands = mh.select(
        "doc_id",
        F.posexplode(F.array(*[
            F.concat(F.col(f"m{2 * b}"), F.col(f"m{2 * b + 1}"))
            for b in range(4)
        ])).alias("band", "bucket_sig"),
    )
    return (
        bands.groupBy("band", "bucket_sig")
        .agg(F.count("*").alias("n_docs"), F.min("doc_id").alias("min_doc"))
    )


@register("dedup_simhash",
          _TOKENS_CTE.format(where="WHERE doc_id < 200") + """
, toksd AS (SELECT DISTINCT doc_id, tok FROM tokens),
hashed AS (
  SELECT doc_id, ('0x' || SUBSTR(md5(tok), 1, 4))::INT AS h FROM toksd
),
bits AS (SELECT UNNEST(RANGE(0, 16)) AS bit),
votes AS (
  SELECT doc_id, bit,
         SUM(CASE WHEN (h >> CAST(bit AS INT)) & 1 = 1 THEN 1 ELSE -1 END) AS v
  FROM hashed CROSS JOIN bits GROUP BY doc_id, bit
)
SELECT doc_id,
       CAST(SUM(CASE WHEN v > 0 THEN 1 << CAST(bit AS INT) ELSE 0 END) AS BIGINT)
           AS simhash
FROM votes GROUP BY doc_id
""")
def q_dedup_simhash(spark, sf_dir):
    """SimHash (16-bit) per document over distinct tokens: majority vote per
    bit of the token hashes. Near-dups share low-Hamming signatures; the
    signature is grouping-key material at scale (no pairwise pass).

    Round-6 shape (guide §2.4): the per-doc distinct-token set is
    array_distinct over the split array and every bit vote is a per-row
    array aggregate — the plan has ZERO exchanges (the old explode →
    distinct → groupBy paid two). The token hash is computed once per
    distinct token into an array column; 16 aggregates fold it into the
    bit votes; vote v_b > 0 ⟺ 2*ones_b > n_tokens (identical majority)."""
    docs = (
        _t(spark, sf_dir, "documents")
        .filter((F.col("doc_id") < 200) & F.col("text").isNotNull())
        .select("doc_id", F.array_distinct(F.split("text", " ")).alias("tset"))
    )
    hashed = docs.select(
        "doc_id",
        F.expr("transform(tset, t ->"
               " cast(conv(substring(md5(t), 1, 4), 16, 10) as int))")
        .alias("hs"))
    votes = hashed.select("doc_id", *[
        F.expr(f"aggregate(hs, 0, (acc, h) ->"
               f" acc + if(((h >> {b}) & 1) = 1, 1, -1))").alias(f"v{b}")
        for b in range(16)
    ])
    sig = None
    for b in range(16):
        term = F.when(F.col(f"v{b}") > 0, F.lit(1 << b)).otherwise(F.lit(0))
        sig = term if sig is None else sig + term
    return votes.select("doc_id", sig.cast("long").alias("simhash"))


#: Hot-shingle document-frequency cap for ``dedup_ngram_jaccard``. A shingle
#: appearing in D documents contributes O(D²) rows to the pair join, so one
#: boilerplate shingle shared by 10⁵ docs is 10¹⁰ pairs — the classic skew
#: killer of shared-key self-joins. Shingles above the cap are dropped from
#: the set universe BEFORE the join (they carry no dedup signal — they are
#: the n-gram analog of stopwords), making the worst key cost O(CAP²).
#: 2 here so the sandbox corpus exercises the drop path; at 100 TB set it to
#: O(10³) and let AQE skew-split handle the residual imbalance below it.
JACCARD_DF_CAP = 2


@register("dedup_ngram_jaccard",
          _TOKENS_CTE.format(where="WHERE doc_id < 60") + _SHINGLES_CTE + f"""
, rawsets AS (SELECT DISTINCT doc_id, shingle FROM shingles),
sets AS (
  SELECT doc_id, shingle FROM rawsets
  QUALIFY COUNT(*) OVER (PARTITION BY shingle) <= {JACCARD_DF_CAP}
),
sizes AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS sz FROM sets GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         CAST(COUNT(*) AS BIGINT) AS n_both
  FROM sets a JOIN sets b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
)
SELECT doc_a, doc_b,
       ROUND(CAST(n_both AS DOUBLE) / (sa.sz + sb.sz - n_both), 6) AS jaccard
FROM inter
JOIN sizes sa ON sa.doc_id = doc_a
JOIN sizes sb ON sb.doc_id = doc_b
""")
def q_dedup_ngram_jaccard(spark, sf_dir):
    """n-gram Jaccard similarity for candidate pairs sharing ≥1 shingle —
    the shared-shingle join bounds the pair space (vs O(n²)), and shingles
    hotter than ``JACCARD_DF_CAP`` documents are dropped before the join
    (skew guard: a df-D shingle is O(D²) pairs; above-cap shingles are
    uninformative boilerplate). Jaccard is computed over the capped shingle
    universe on both sides, so it stays a true set Jaccard of the retained
    shingles."""
    sets = _shingles(spark, sf_dir, max_doc=60).distinct()
    df_w = Window.partitionBy("shingle")
    sets = (sets.withColumn("_df", F.count("*").over(df_w))
            .filter(F.col("_df") <= JACCARD_DF_CAP).drop("_df"))
    sizes = sets.groupBy("doc_id").agg(F.count("*").alias("sz"))
    a = sets.alias("a")
    b = sets.alias("b")
    inter = (
        a.join(b, (F.col("a.shingle") == F.col("b.shingle"))
               & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("doc_a"),
                 F.col("b.doc_id").alias("doc_b"))
        .agg(F.count("*").alias("n_both"))
    )
    return (
        inter
        .join(sizes.select(F.col("doc_id").alias("doc_a"),
                           F.col("sz").alias("sz_a")), "doc_a")
        .join(sizes.select(F.col("doc_id").alias("doc_b"),
                           F.col("sz").alias("sz_b")), "doc_b")
        .select(
            "doc_a", "doc_b",
            F.round(F.col("n_both").cast("double")
                    / (F.col("sz_a") + F.col("sz_b") - F.col("n_both")), 6)
            .alias("jaccard"))
    )


# --- similarity search over embeddings -------------------------------------


def _dot(a, b):
    """JVM-side dot product: zip_with + aggregate (no Python in the loop)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0), lambda acc, x: acc + x)


@register("embedding_topk", """
WITH q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0)
SELECT vec_id, label,
       ROUND(list_dot_product(embedding::DOUBLE[], qv)
             / (SQRT(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]))
                * SQRT(list_dot_product(qv, qv))), 6) AS cos_sim
FROM embeddings CROSS JOIN q
WHERE vec_id <> 0
ORDER BY cos_sim DESC, vec_id
LIMIT 20
""")
def q_embedding_topk(spark, sf_dir):
    """Brute-force cosine top-k ANN baseline: broadcast the query vector,
    JVM-side zip_with/aggregate dot products, TakeOrderedAndProject top-k.
    The scale path is the LSH-bucketed variant (ann_lsh_buckets)."""
    emb = _t(spark, sf_dir, "embeddings")
    # Round-6: the query vector's norm is computed ONCE in the broadcast
    # row (sqrt(qv·qv) is constant per probe row; the old plan re-ran that
    # dot per embedding). Same expression tree per row otherwise — the
    # float result is bit-identical, only evaluated 1× instead of N×.
    q = (
        emb.filter(F.col("vec_id") == 0)
        .select(F.col("embedding").alias("qv"))
        .select("qv", F.sqrt(_dot(F.col("qv"), F.col("qv"))).alias("qn"))
    )
    return (
        _spread(spark, emb.filter(F.col("vec_id") != 0), "vec_id")
        .crossJoin(F.broadcast(q))
        .select(
            "vec_id", "label",
            F.round(
                _dot(F.col("embedding"), F.col("qv"))
                / (F.sqrt(_dot(F.col("embedding"), F.col("embedding")))
                   * F.col("qn")), 6)
            .alias("cos_sim"))
        .orderBy(F.desc("cos_sim"), "vec_id")
        .limit(20)
    )


@register("embedding_neardup", """
SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
       ROUND(list_dot_product(a.embedding::DOUBLE[], b.embedding::DOUBLE[])
             / (SQRT(list_dot_product(a.embedding::DOUBLE[], a.embedding::DOUBLE[]))
                * SQRT(list_dot_product(b.embedding::DOUBLE[], b.embedding::DOUBLE[]))),
             6) AS cos_sim
FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
WHERE a.vec_id < 150 AND b.vec_id < 150
  AND list_dot_product(a.embedding::DOUBLE[], b.embedding::DOUBLE[])
      / (SQRT(list_dot_product(a.embedding::DOUBLE[], a.embedding::DOUBLE[]))
         * SQRT(list_dot_product(b.embedding::DOUBLE[], b.embedding::DOUBLE[]))) > 0.35
""")
def q_embedding_neardup(spark, sf_dir):
    """Embedding-cosine near-dup pairs over a bounded id range — the exact
    check LSH candidates feed into at scale. Threshold 0.35: the synthetic
    embeddings top out at cos ~0.44, so 0.5 made the oracle vacuously
    compare 0 rows vs 0 rows; 0.35 yields 26 pairs at both driver scale
    factors and the nearest pair sits 2.9e-5 away from the threshold —
    far outside float-vs-double divergence, so the row set is stable."""
    emb = _t(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 150)
    a = emb.select(F.col("vec_id").alias("vec_a"),
                   F.col("embedding").alias("ea"))
    b = emb.select(F.col("vec_id").alias("vec_b"),
                   F.col("embedding").alias("eb"))
    pairs = a.join(b, F.col("vec_a") < F.col("vec_b"))
    cos = (_dot(F.col("ea"), F.col("eb"))
           / (F.sqrt(_dot(F.col("ea"), F.col("ea")))
              * F.sqrt(_dot(F.col("eb"), F.col("eb")))))
    return (
        pairs.withColumn("cos_raw", cos)
        .filter(F.col("cos_raw") > 0.35)
        .select("vec_a", "vec_b", F.round("cos_raw", 6).alias("cos_sim"))
    )


@register("ann_lsh_buckets", """
WITH planes AS (
  SELECT vec_id AS plane_id, embedding::DOUBLE[] AS pv
  FROM embeddings WHERE vec_id BETWEEN 1 AND 8
),
signs AS (
  SELECT e.vec_id,
         SUM(CASE WHEN list_dot_product(e.embedding::DOUBLE[], p.pv) > 0
                  THEN 1 << CAST(p.plane_id - 1 AS INT) ELSE 0 END) AS bucket
  FROM embeddings e CROSS JOIN planes p
  GROUP BY e.vec_id
)
SELECT CAST(bucket AS BIGINT) AS bucket, CAST(COUNT(*) AS BIGINT) AS n_vecs,
       MIN(vec_id) AS min_vec
FROM signs GROUP BY bucket
""")
def q_ann_lsh_buckets(spark, sf_dir):
    """LSH-bucketed ANN (scale path): 8 hyperplane sign bits → 256 buckets;
    search = probe the query's bucket (and neighbors) only. Hyperplanes are
    taken deterministically from the data (vec_id 1..8) to stay hermetic."""
    emb = _t(spark, sf_dir, "embeddings")
    # Round-6 shape (guide §2.4/§3.1): ALL 8 hyperplanes ride in ONE
    # broadcast row as an array of (plane_id, pv) structs; the bucket is a
    # per-row aggregate over that array — no 8× crossJoin row blowup and
    # no groupBy(vec_id) exchange (the old plan paid both). The only
    # exchange left is the final 256-bucket groupBy. The size>0 filter
    # preserves the empty-planes ⇒ empty-result semantics of the cross
    # join (aggregate over [] would otherwise emit bucket 0 per vec).
    planes_row = (
        emb.filter(F.col("vec_id").between(1, 8))
        .agg(F.collect_list(
            F.struct(
                F.expr("shiftleft(1, cast(vec_id - 1 as int))").cast("long")
                .alias("weight"),
                F.col("embedding").alias("pv"))).alias("planes"))
    )
    signs = (
        _spread(spark, emb, "vec_id").crossJoin(F.broadcast(planes_row))
        .filter(F.size("planes") > 0)
        .select("vec_id", F.aggregate(
            "planes", F.lit(0).cast("long"),
            lambda acc, p: acc + F.when(
                _dot(F.col("embedding"), p["pv"]) > 0,
                p["weight"]).otherwise(F.lit(0).cast("long")),
        ).alias("bucket"))
    )
    return (
        signs.groupBy(F.col("bucket").cast("long").alias("bucket"))
        .agg(F.count("*").alias("n_vecs"), F.min("vec_id").alias("min_vec"))
    )


# --- text analysis ----------------------------------------------------------


@register("lang_id_heuristic", """
SELECT doc_id, lang AS tagged_lang,
       CAST((LENGTH(text) - LENGTH(REPLACE(text, ' the ', ''))) / 5 AS BIGINT)
           AS the_count,
       CASE WHEN (LENGTH(text) - LENGTH(REPLACE(text, ' the ', ''))) / 5 >= 3
            THEN 'en-heavy'
            WHEN (LENGTH(text) - LENGTH(REPLACE(text, ' the ', ''))) / 5 >= 1
            THEN 'en-some'
            ELSE 'other' END AS guessed
FROM documents
""")
def q_lang_id_heuristic(spark, sf_dir):
    """Language-ID heuristic (stopword-frequency n-gram signal) — the X6
    analog, engine-portable arithmetic only."""
    the_cnt = ((F.length("text")
                - F.length(F.replace(F.col("text"), F.lit(" the "), F.lit(""))))
               / 5).cast("long")
    return _t(spark, sf_dir, "documents").select(
        "doc_id", F.col("lang").alias("tagged_lang"),
        the_cnt.alias("the_count"),
        F.when(the_cnt >= 3, "en-heavy")
        .when(the_cnt >= 1, "en-some")
        .otherwise("other").alias("guessed"),
    )


@register("quality_score", """
SELECT doc_id,
       CAST(LENGTH(text) - LENGTH(REPLACE(text, ' ', '')) + 1 AS BIGINT) AS n_tokens,
       ROUND(CAST(LENGTH(REPLACE(text, ' ', '')) AS DOUBLE)
             / (LENGTH(text) - LENGTH(REPLACE(text, ' ', '')) + 1), 6) AS avg_token_len,
       ROUND(LEAST(CAST(LENGTH(text) AS DOUBLE) / 400.0, 1.0) * 0.5
             + LEAST(CAST(LENGTH(REPLACE(text, ' ', '')) AS DOUBLE)
                     / (LENGTH(text) - LENGTH(REPLACE(text, ' ', '')) + 1) / 8.0,
                     1.0) * 0.5, 6) AS quality
FROM documents
""")
def q_quality_score(spark, sf_dir):
    """Document quality scoring: length + token-shape features combined into
    [0,1] — the pre-training filter stage, pure JVM arithmetic."""
    spaces = F.length("text") - F.length(F.replace(F.col("text"), F.lit(" "), F.lit("")))
    n_tokens = spaces + 1
    chars = F.length(F.replace(F.col("text"), F.lit(" "), F.lit(""))).cast("double")
    avg_len = chars / n_tokens
    return _t(spark, sf_dir, "documents").select(
        "doc_id",
        n_tokens.cast("long").alias("n_tokens"),
        F.round(avg_len, 6).alias("avg_token_len"),
        F.round(
            F.least(F.length("text").cast("double") / 400.0, F.lit(1.0)) * 0.5
            + F.least(avg_len / 8.0, F.lit(1.0)) * 0.5, 6).alias("quality"),
    )


@register("token_count", """
SELECT doc_id,
       CAST(LENGTH(text) - LENGTH(REPLACE(text, ' ', '')) + 1 AS BIGINT)
           AS n_tokens,
       CAST(LENGTH(text) AS BIGINT) AS n_chars
FROM documents
""")
def q_token_count(spark, sf_dir):
    """Whitespace token counting (BPE-proxy budget accounting)."""
    return _t(spark, sf_dir, "documents").select(
        "doc_id",
        (F.length("text")
         - F.length(F.replace(F.col("text"), F.lit(" "), F.lit(""))) + 1)
        .cast("long").alias("n_tokens"),
        F.length("text").cast("long").alias("n_chars"),
    )


@register("token_topn", _TOKENS_CTE.format(where="") + """
SELECT tok, CAST(COUNT(*) AS BIGINT) AS n
FROM tokens GROUP BY tok
ORDER BY n DESC, tok LIMIT 50
""")
def q_token_topn(spark, sf_dir):
    """Corpus token frequency top-N (vocabulary building): explode + count +
    top-k with deterministic tie-break."""
    return (
        _tokens(spark, sf_dir)
        .groupBy("tok").agg(F.count("*").alias("n"))
        .orderBy(F.desc("n"), "tok").limit(50)
    )


@register("quality_perplexity_bucket", _TOKENS_CTE.format(where="") + """
, counts AS (SELECT tok, COUNT(*)::DOUBLE AS c FROM tokens GROUP BY tok),
tot AS (SELECT SUM(c) AS t FROM counts),
scored AS (
  SELECT tokens.doc_id,
         ROUND(AVG(-LN(counts.c / tot.t)) + 1e-9, 6) AS nll
  FROM tokens JOIN counts USING (tok) CROSS JOIN tot
  GROUP BY tokens.doc_id
)
SELECT doc_id, nll,
       CASE WHEN nll < 3.3998 THEN 'head'
            WHEN nll < 3.4041 THEN 'middle'
            ELSE 'tail' END AS bucket
FROM scored
""")
def q_quality_perplexity_bucket(spark, sf_dir):
    """CCNet-style LM-perplexity quality bucketing, with the corpus's own
    unigram model standing in for the external KenLM: per-document mean
    negative log-likelihood under p(tok) = count/total, split into
    head/middle/tail buckets (fixed thresholds ≈ the corpus tertiles; CCNet
    uses per-language percentiles, which is a one-scalar-aggregate
    refinement of the same plan).

    Scale shape: one vocab-keyed count shuffle with full map-side combine,
    one tokens⋈counts shuffle join on ``tok`` (vocab-sized build side —
    broadcastable when the vocab fits, AQE decides), a 1-row total
    broadcast, then one doc-keyed average — every exchange is
    key-partitioned, nothing global. Buckets compare the ROUNDED score in
    both engines (6 dp + the graph_pagerank 1e-9 nudge) so float summation
    order can't flip a boundary."""
    toks = _tokens(spark, sf_dir)
    counts = toks.groupBy("tok").agg(F.count("*").cast("double").alias("c"))
    tot = counts.agg(F.sum("c").alias("t"))
    nll = F.round(F.avg(-F.log(F.col("c") / F.col("t"))) + F.lit(1e-9), 6)
    scored = (
        toks.join(counts, "tok")
        .crossJoin(F.broadcast(tot))
        .groupBy("doc_id")
        .agg(nll.alias("nll"))
    )
    return scored.select(
        "doc_id", "nll",
        F.when(F.col("nll") < 3.3998, "head")
        .when(F.col("nll") < 3.4041, "middle")
        .otherwise("tail").alias("bucket"))


@register("doc_fingerprint",
          _TOKENS_CTE.format(where="") + _SHINGLES_CTE + """
SELECT d.doc_id, md5(d.text) AS content_hash,
       COALESCE(s.min_shingle_hash, '') AS min_shingle_hash
FROM documents d
LEFT JOIN (SELECT doc_id, MIN(md5(shingle)) AS min_shingle_hash
           FROM shingles GROUP BY doc_id) s
ON d.doc_id = s.doc_id
""")
def q_doc_fingerprint(spark, sf_dir):
    """Document fingerprinting: full-content hash + rolling min-shingle hash
    (the k=1 minhash) — a cheap near-dup prefilter key."""
    docs = _t(spark, sf_dir, "documents")
    minsh = (
        _shingles(spark, sf_dir)
        .groupBy("doc_id")
        .agg(F.min(F.md5("shingle")).alias("min_shingle_hash"))
    )
    return (
        docs.join(minsh, "doc_id", "left")
        .select(
            "doc_id", F.md5("text").alias("content_hash"),
            F.coalesce("min_shingle_hash", F.lit("")).alias("min_shingle_hash"))
    )


# --- training-data pipeline: filtering / sampling / packing ----------------
# Corpus-preparation operators a 100 TB pre-training pipeline needs beyond
# the crawl itself. All pure-JVM column arithmetic (no Python UDFs): each is
# one or two hash-partitioned aggregations that scale linearly with input.


@register("quality_repetition", _TOKENS_CTE.format(where="") + """
, per_tok AS (
  SELECT doc_id, tok, COUNT(*) AS c FROM tokens GROUP BY doc_id, tok
)
SELECT doc_id,
       CAST(SUM(c) AS BIGINT) AS n_tokens,
       CAST(COUNT(*) AS BIGINT) AS n_distinct,
       ROUND(1.0 - CAST(COUNT(*) AS DOUBLE) / SUM(c), 6) AS dup_frac,
       ROUND(CAST(MAX(c) AS DOUBLE) / SUM(c), 6) AS top_tok_frac,
       (1.0 - CAST(COUNT(*) AS DOUBLE) / SUM(c) > 0.8
        OR CAST(MAX(c) AS DOUBLE) / SUM(c) > 0.2) AS repetitive
FROM per_tok GROUP BY doc_id
""")
def q_quality_repetition(spark, sf_dir):
    """Repetition-based quality filter (the Gopher-rules analog): flag
    documents dominated by repeated tokens via duplicate-token fraction and
    top-token mass. Two chained hash aggregations — the (doc_id, tok) combine
    is map-side partial, so the shuffle carries one row per distinct token
    per doc, not one per token."""
    per_tok = (_tokens(spark, sf_dir)
               .groupBy("doc_id", "tok").agg(F.count("*").alias("c")))
    n = F.sum("c")
    d = F.count("*")
    dup = F.lit(1.0) - d.cast("double") / n
    top = F.max("c").cast("double") / n
    return per_tok.groupBy("doc_id").agg(
        n.cast("long").alias("n_tokens"),
        d.cast("long").alias("n_distinct"),
        F.round(dup, 6).alias("dup_frac"),
        F.round(top, 6).alias("top_tok_frac"),
        ((dup > 0.8) | (top > 0.2)).alias("repetitive"),
    )


_PII_EMAIL = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
_PII_PHONE = r"\+[0-9]{1,2}-[0-9]{3}-[0-9]{1,6}"


@register("pii_scrub", r"""
WITH aug AS (
  SELECT doc_id,
         text
         || CASE WHEN doc_id % 3 = 0
                 THEN ' contact user' || CAST(doc_id AS VARCHAR)
                      || '@mail.example.com or +1-555-'
                      || CAST(doc_id % 10000 AS VARCHAR)
                 ELSE '' END
         || CASE WHEN doc_id % 5 = 0
                 THEN ' also admin@corp.example.org'
                 ELSE '' END AS text
  FROM documents
)
SELECT doc_id,
       CAST(LEN(regexp_extract_all(text,
            '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT)
           AS n_emails,
       CAST(LEN(regexp_extract_all(text,
            '\+[0-9]{1,2}-[0-9]{3}-[0-9]{1,6}')) AS BIGINT) AS n_phones,
       md5(regexp_replace(regexp_replace(text,
            '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
            '\+[0-9]{1,2}-[0-9]{3}-[0-9]{1,6}', '<PHONE>', 'g'))
           AS scrubbed_md5
FROM aug
""")
def q_pii_scrub(spark, sf_dir):
    """PII redaction: count and mask email/phone spans with JVM-side regexes
    (patterns restricted to the RE2-compatible subset so the DuckDB oracle
    matches byte-for-byte). The synthetic corpus carries no PII, so both
    sides deterministically inject spans into every 3rd/5th document first —
    the oracle then verifies the scrub output exactly (md5 of the redacted
    text), not just the counts.

    _spread (guide §2.5): three regex passes + md5 over the full text are
    the heavy part; the single-row-group input would otherwise run them
    all in one task."""
    docs = _spread(spark, _t(spark, sf_dir, "documents"), "doc_id")
    aug = F.concat(
        F.col("text"),
        F.when(
            F.col("doc_id") % 3 == 0,
            F.concat(F.lit(" contact user"),
                     F.col("doc_id").cast("string"),
                     F.lit("@mail.example.com or +1-555-"),
                     (F.col("doc_id") % 10000).cast("string")),
        ).otherwise(""),
        F.when(F.col("doc_id") % 5 == 0, " also admin@corp.example.org")
        .otherwise(""),
    )
    scrubbed = F.regexp_replace(
        F.regexp_replace(aug, _PII_EMAIL, "<EMAIL>"),
        _PII_PHONE, "<PHONE>")
    return docs.select(
        "doc_id",
        F.regexp_count(aug, F.lit(_PII_EMAIL)).cast("long").alias("n_emails"),
        F.regexp_count(aug, F.lit(_PII_PHONE)).cast("long").alias("n_phones"),
        F.md5(scrubbed).alias("scrubbed_md5"),
    )


@register("domain_sample", """
SELECT doc_id, source,
       CAST(20 + (CAST(SUBSTR(source, 4, 8) AS BIGINT) * 7) % 70 AS BIGINT)
           AS rate_pct
FROM documents
WHERE (doc_id * 2654435761) % 100 <
      20 + (CAST(SUBSTR(source, 4, 8) AS BIGINT) * 7) % 70
""")
def q_domain_sample(spark, sf_dir):
    """Stratified deterministic sampling for corpus mixing: each source gets
    a target rate, each doc a reproducible uniform draw from a Knuth
    multiplicative hash of its id — a pure filter (no shuffle, no RNG state),
    so the identical sample falls out on any cluster size or retry."""
    src_num = F.substring("source", 4, 8).cast("long")
    rate = (F.lit(20) + (src_num * 7) % 70).cast("long")
    draw = (F.col("doc_id") * F.lit(2654435761)) % 100
    return (
        _t(spark, sf_dir, "documents")
        .select("doc_id", "source", rate.alias("rate_pct"),
                draw.alias("_draw"))
        .filter(F.col("_draw") < F.col("rate_pct"))
        .drop("_draw")
    )


@register("boilerplate_shingles",
          _TOKENS_CTE.format(where="") + _SHINGLES_CTE + """
SELECT d.source, s.shingle,
       CAST(COUNT(DISTINCT s.doc_id) AS BIGINT) AS n_docs
FROM shingles s JOIN documents d ON s.doc_id = d.doc_id
GROUP BY d.source, s.shingle
HAVING COUNT(DISTINCT s.doc_id) >= 3
ORDER BY n_docs DESC, d.source, s.shingle
LIMIT 100
""")
def q_boilerplate_shingles(spark, sf_dir):
    """Boilerplate detection: shingles recurring across many documents of
    the same source (site headers/footers/nav chrome). Shuffle key is
    (source, shingle) — at 100 TB the distinct-doc count is a partial
    aggregate, and only shingles crossing the threshold survive to the
    top-k (TakeOrderedAndProject, deterministic tie-break)."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "source")
    return (
        _shingles(spark, sf_dir)
        .join(docs, "doc_id")
        .groupBy("source", "shingle")
        .agg(F.countDistinct("doc_id").alias("n_docs"))
        .filter(F.col("n_docs") >= 3)
        .orderBy(F.desc("n_docs"), "source", "shingle")
        .limit(100)
    )


@register("token_budget_pack", """
WITH counted AS (
  SELECT doc_id,
         CAST(LENGTH(text) - LENGTH(REPLACE(text, ' ', '')) + 1 AS BIGINT)
             AS n_tokens
  FROM documents
)
SELECT doc_id, n_tokens,
       CAST(FLOOR((SUM(n_tokens) OVER (ORDER BY doc_id) - n_tokens) / 512.0)
            AS BIGINT) AS pack_bin
FROM counted
""")
def q_token_budget_pack(spark, sf_dir):
    """Greedy sequence packing for training batches: each document lands in
    the 512-token bin where its running token offset starts. The running sum
    is a distributed scan — order-consistent range buckets on doc_id, a
    per-bucket window, and a tiny bucket-total prefix-sum joined back
    broadcast (the mint pattern, mint.py) — NOT a single-partition global
    window, so it survives any corpus size."""
    docs = _t(spark, sf_dir, "documents").select(
        "doc_id",
        (F.length("text")
         - F.length(F.replace(F.col("text"), F.lit(" "), F.lit(""))) + 1)
        .cast("long").alias("n_tokens"),
    )
    df = docs.withColumn("_b", F.floor(F.col("doc_id") / 64).cast("long"))
    df = df.persist()
    totals = df.groupBy("_b").agg(
        F.sum("n_tokens").alias("t")).orderBy("_b").collect()
    offsets, acc = {}, 0
    for r in totals:
        offsets[r["_b"]] = acc
        acc += r["t"]
    off = spark.createDataFrame(
        pd.DataFrame(list(offsets.items()) or [(0, 0)],
                     columns=["_b", "_off"]),
        "_b long, _off long")  # pandas → Arrow path, no pickled partitions
    w = Window.partitionBy("_b").orderBy("doc_id")
    return (
        df.join(F.broadcast(off), "_b", "left")
        .withColumn(
            "_cum",
            F.sum("n_tokens").over(w) + F.coalesce("_off", F.lit(0))
            - F.col("n_tokens"))
        .withColumn("pack_bin",
                    F.floor(F.col("_cum") / F.lit(512.0)).cast("long"))
        .select("doc_id", "n_tokens", "pack_bin")
    )


# --- events (streaming analogs) --------------------------------------------


@register("recrawl_due", """
SELECT user_id,
       CAST(COUNT(*) AS BIGINT) AS n_obs,
       EPOCH_US(MAX(ts)) - EPOCH_US(MIN(ts)) AS span_us,
       EPOCH_US(MAX(ts))
         + (EPOCH_US(MAX(ts)) - EPOCH_US(MIN(ts))) // (COUNT(*) - 1)
         AS next_due_us
FROM events GROUP BY user_id HAVING COUNT(*) >= 2
""")
def q_recrawl_due(spark, sf_dir):
    """Freshness scheduling: per-key change-rate estimate → next re-crawl
    due time (the signal that feeds ``CrawlEngine.reschedule``; the
    reference never revisits, so this is the at-scale extension's other
    half). Treating each ``events`` key as a page's observed change log,
    the mean inter-change interval predicts the next change:
    next_due = last_change + span/(n-1) — the uniform-rate (Poisson MLE)
    estimator crawl freshness papers start from.

    Scale shape: ONE key-partitioned aggregation with full map-side
    combine; arithmetic on integer microseconds end-to-end (unix_micros /
    EPOCH_US + integer division) so the two engines hash identically —
    no float rounding anywhere."""
    ev = _t(spark, sf_dir, "events")
    # ts is TIMESTAMP_NTZ; the session timezone is pinned UTC, so the
    # cast is offset-free and matches DuckDB's EPOCH_US on the naive value
    agg = ev.groupBy("user_id").agg(
        F.count("*").cast("long").alias("n_obs"),
        F.unix_micros(F.min("ts").cast("timestamp")).alias("_first_us"),
        F.unix_micros(F.max("ts").cast("timestamp")).alias("_last_us"))
    span = F.col("_last_us") - F.col("_first_us")
    return (
        agg.filter(F.col("n_obs") >= 2)
        .select(
            "user_id", "n_obs",
            span.alias("span_us"),
            (F.col("_last_us")
             + F.expr("div(_last_us - _first_us, n_obs - 1)"))
            .alias("next_due_us"))
    )


@register("events_tumbling", """
SELECT CAST(FLOOR(EPOCH(ts) / 3600) * 3600 AS BIGINT) AS window_start,
       event_type,
       CAST(COUNT(*) AS BIGINT) AS n,
       ROUND(SUM(value), 6) AS sum_value
FROM events GROUP BY 1, 2
""")
def q_events_tumbling(spark, sf_dir):
    """Tumbling-window aggregation (the Structured-Streaming windowed-agg
    shape, batch-evaluated): 1h windows by event_type."""
    return (
        _t(spark, sf_dir, "events")
        .groupBy(
            (F.floor(F.unix_timestamp("ts") / 3600) * 3600)
            .cast("long").alias("window_start"),
            "event_type")
        .agg(F.count("*").alias("n"),
             F.round(F.sum("value"), 6).alias("sum_value"))
    )


@register("events_sessionize", """
WITH gaps AS (
  SELECT user_id, ts,
         CASE WHEN EPOCH(ts) - EPOCH(LAG(ts) OVER w) > 1800 OR
                   LAG(ts) OVER w IS NULL THEN 1 ELSE 0 END AS new_session
  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
sess AS (
  SELECT user_id, SUM(new_session) OVER
         (PARTITION BY user_id ORDER BY ts ROWS UNBOUNDED PRECEDING) AS session_id
  FROM gaps
)
SELECT user_id, CAST(COUNT(DISTINCT session_id) AS BIGINT) AS n_sessions,
       CAST(COUNT(*) AS BIGINT) AS n_events
FROM sess GROUP BY user_id
""")
def q_events_sessionize(spark, sf_dir):
    """Gap-based sessionization (30 min) — the applyInPandasWithState
    custom-stateful-operator shape, batch-evaluated with windows."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gaps = ev.withColumn(
        "new_session",
        F.when(
            F.lag("ts").over(w).isNull()
            | ((F.unix_timestamp("ts") - F.unix_timestamp(F.lag("ts").over(w)))
               > 1800), 1).otherwise(0))
    wcum = (Window.partitionBy("user_id").orderBy("ts")
            .rowsBetween(Window.unboundedPreceding, 0))
    sess = gaps.withColumn("session_id", F.sum("new_session").over(wcum))
    return (
        sess.groupBy("user_id")
        .agg(F.countDistinct("session_id").alias("n_sessions"),
             F.count("*").alias("n_events"))
    )


@register("event_props_json", """
SELECT json_extract_string(props, '$.k') AS k, CAST(COUNT(*) AS BIGINT) AS n
FROM events GROUP BY 1
""")
def q_event_props_json(spark, sf_dir):
    """Semi-structured props extraction (typed metadata column pattern)."""
    return (
        _t(spark, sf_dir, "events")
        .groupBy(F.get_json_object("props", "$.k").alias("k"))
        .agg(F.count("*").alias("n"))
    )


# --- multimodal binary plumbing ---------------------------------------------


@register("multimodal_decode", """
SELECT doc_id,
       CAST(OCTET_LENGTH(ENCODE(text)) AS BIGINT) AS n_bytes,
       CAST(OCTET_LENGTH(ENCODE(text)) % 640 + 1 AS INT) AS width,
       CAST((OCTET_LENGTH(ENCODE(text)) * 7) % 480 + 1 AS INT) AS height,
       CAST(3 AS INT) AS channels
FROM documents
""")
def q_multimodal_decode(spark, sf_dir):
    """Multimodal plumbing: an opaque binary payload column flows through an
    Arrow-batched "decode" returning typed image metadata. The decode itself
    is a deterministic STUB (no image libs in this container, SURVEY
    out-of-scope note) — the Spark-side schema/partitioning/batch shape is
    the real, tested part; a real decoder drops into `fake_decode_batch`.

    Round-6 (guide §4.2): mapInPandas → mapInArrow. The payload still
    crosses the boundary as an Arrow binary batch (where a real decoder
    consumes it), but the stub's metadata is computed straight off the
    Arrow offsets/NumPy buffers — no per-row Python bytes objects, no
    pandas block construction for megabytes of payload."""
    from typing import Iterator

    import pyarrow as pa
    from pyspark.sql.types import (
        IntegerType, LongType, StructField, StructType,
    )

    out_schema = StructType([
        StructField("doc_id", LongType()),
        StructField("n_bytes", LongType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("channels", IntegerType()),
    ])

    def fake_decode_batch(payload: "pa.Array"):
        # Deterministic stand-in for a BATCH decoder (PIL/libav over the
        # whole Arrow batch): byte lengths come from the Arrow value
        # buffers (guide §4.2 — binary columns are data + offsets; a
        # length-only "decode" never touches the data bytes), then pure
        # vectorized NumPy arithmetic.
        import numpy as np
        import pyarrow.compute as pc  # not loaded by `import pyarrow`

        n = pc.binary_length(payload).cast(pa.int64()).to_numpy(
            zero_copy_only=False)
        return (
            pa.array(n, pa.int64()),
            pa.array(n % 640 + 1, pa.int32()),
            pa.array((n * 7) % 480 + 1, pa.int32()),
            pa.array(np.full(len(n), 3, dtype="int32"), pa.int32()),
        )

    def decode(batches: Iterator["pa.RecordBatch"]) -> Iterator["pa.RecordBatch"]:
        for batch in batches:
            n, w, h, c = fake_decode_batch(batch.column(1))
            yield pa.RecordBatch.from_arrays(
                [batch.column(0), n, w, h, c],
                ["doc_id", "n_bytes", "width", "height", "channels"])

    # NO _spread here: the stub's Python work is length-only, far cheaper
    # than exchanging the payload bytes (measured: repartition-first cost
    # 3.2 s vs 1.7 s serial at sf1.0 — the exchange's serial map side
    # ships 50 MB to buy ~0.1 s of parallel Python). A real decoder whose
    # per-byte compute dominates would want the spread back.
    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", F.encode("text", "utf-8").alias("payload"))
    return docs.mapInArrow(decode, out_schema)


@register("multimodal_framesample", """
WITH strides AS (SELECT UNNEST(RANGE(0, 16, 4)) AS frame_idx),
vids AS (
  SELECT doc_id, text,
         LEAST(OCTET_LENGTH(ENCODE(text)) // 100, 16) AS n_frames
  FROM documents
)
SELECT v.doc_id, CAST(s.frame_idx AS INT) AS frame_idx,
       CAST(v.n_frames AS INT) AS n_frames,
       md5(SUBSTRING(v.text, s.frame_idx * 100 + 1, 100)) AS frame_md5
FROM vids v JOIN strides s ON s.frame_idx < v.n_frames
""")
def q_multimodal_framesample(spark, sf_dir):
    """Video frame sampling: an opaque payload expands to every 4th frame's
    fingerprint — a 1→N row expansion INSIDE the Arrow batch (the shape a
    real libav sampler needs: one input video, many output frames, no
    driver involvement). The "frame" is a deterministic 100-byte payload
    slice (no codec libs in this container); the loop is over the ≤4 stride
    positions, each a vectorized pandas slice over the whole batch — never
    per row. Fingerprinting stays JVM-side (md5 above the UDF)."""
    from typing import Iterator

    import pandas as pd  # noqa: F811
    from pyspark.sql.types import (
        IntegerType, LongType, StringType, StructField, StructType,
    )

    mid_schema = StructType([
        StructField("doc_id", LongType()),
        StructField("frame_idx", IntegerType()),
        StructField("n_frames", IntegerType()),
        StructField("frame_chunk", StringType()),
    ])

    def sample_frames(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            n_frames = (pdf["payload"].str.len() // 100).clip(upper=16)
            outs = []
            for f in range(0, 16, 4):  # stride positions, not rows
                sel = n_frames > f
                if not sel.any():
                    continue
                outs.append(pd.DataFrame({
                    "doc_id": pdf.loc[sel, "doc_id"],
                    "frame_idx": pd.Series(f, index=pdf.index[sel],
                                           dtype="int32"),
                    "n_frames": n_frames[sel].astype("int32"),
                    "frame_chunk": pdf.loc[sel, "payload"]
                    .str.slice(f * 100, f * 100 + 100),
                }))
            yield (pd.concat(outs) if outs else pd.DataFrame(
                {n: pd.Series(dtype=d) for n, d in
                 [("doc_id", "int64"), ("frame_idx", "int32"),
                  ("n_frames", "int32"), ("frame_chunk", "object")]}))

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", F.col("text").alias("payload"))
    return (
        docs.mapInPandas(sample_frames, mid_schema)
        .select("doc_id", "frame_idx", "n_frames",
                F.md5("frame_chunk").alias("frame_md5"))
    )


@register("multimodal_resize", """
SELECT doc_id,
       CAST(OCTET_LENGTH(ENCODE(text)) % 640 + 1 AS INT) AS width,
       CAST((OCTET_LENGTH(ENCODE(text)) * 7) % 480 + 1 AS INT) AS height,
       CAST((OCTET_LENGTH(ENCODE(text)) % 640 + 1) * 224
            // GREATEST(OCTET_LENGTH(ENCODE(text)) % 640 + 1,
                        (OCTET_LENGTH(ENCODE(text)) * 7) % 480 + 1) AS INT)
           AS out_width,
       CAST(((OCTET_LENGTH(ENCODE(text)) * 7) % 480 + 1) * 224
            // GREATEST(OCTET_LENGTH(ENCODE(text)) % 640 + 1,
                        (OCTET_LENGTH(ENCODE(text)) * 7) % 480 + 1) AS INT)
           AS out_height
FROM documents
""")
def q_multimodal_resize(spark, sf_dir):
    """Aspect-preserving thumbnail planning (max side 224) over the decode
    stage's image metadata: composes the mapInPandas decode with pure
    integer JVM arithmetic (integer division on both engines — no float
    rounding ties). A real resampler would replace the arithmetic with a
    second mapInPandas over the payload; the dims contract is the tested
    part."""
    meta = q_multimodal_decode(spark, sf_dir)
    return meta.select(
        "doc_id", "width", "height",
        F.expr("CAST((width * 224) DIV greatest(width, height) AS INT)")
        .alias("out_width"),
        F.expr("CAST((height * 224) DIV greatest(width, height) AS INT)")
        .alias("out_height"),
    )


# ---------------------------------------------------------------------------
# Round-2: oracle rows for the previously parity-only operators
# (S1, S2, F3, F4, F12, J2, J4, O5, X4, X8 — VERDICT.md round-1 item 2).
# The span-pipeline queries run the REAL engine kernel (operators/parse.
# extract_candidates → functions/spans.outlink_candidates) over a synthetic
# interleaved-span table derived from lineitem; the oracle reconstructs the
# expected output with pure SQL on the restricted (relative, pre-canonical)
# href family, so any drift in the kernel shows up as a hash mismatch.
# ---------------------------------------------------------------------------


def _span_pages(spark, sf_dir, href_expr, junk: bool):
    """Synthetic interleaved-span pages: page = o_orderkey % 311, one link
    span per order row (offset = o_orderkey — globally unique, so document
    order is total). With ``junk`` three of four spans carry a filtered
    href (javascript:/mailto:/'@' — Parser.java:138-144)."""
    oo = _t(spark, sf_dir, "orders").select(
        (F.col("o_orderkey") % 311).alias("page"),
        F.col("o_orderkey").alias("o"))
    if junk:
        media = (
            F.when(F.col("o") % 4 == 0, F.lit("javascript:void(0)"))
            .when(F.col("o") % 4 == 1, F.lit("MAILTO:user@example.com"))
            .when(F.col("o") % 4 == 3, F.lit("ref user@host"))
            .otherwise(href_expr)
        )
    else:
        media = href_expr
    spans = oo.select(
        "page",
        F.struct(
            F.lit("a").alias("kind"),
            F.concat(F.lit("anchor-"), F.col("o").cast("string")).alias("text"),
            media.alias("media_ref"),
            F.col("o").cast("int").alias("offset"),
        ).alias("span"),
    )
    return (
        spans.groupBy("page")
        .agg(F.collect_list("span").alias("spans"))
        .select(
            F.concat(F.lit("http://h"), (F.col("page") % 13).cast("string"),
                     F.lit(".example.com/page/"),
                     F.col("page").cast("string")).alias("url"),
            F.col("page").alias("docid"),
            F.lit(1).cast("int").alias("depth"),
            F.lit(0).cast("long").alias("seed_docid"),
            F.col("page").alias("process_seq"),
            F.lit("text/html").alias("content_type"),
            "spans",
        )
    )


_SPAN_URL_SQL = (
    "'http://h' || CAST(page % 13 AS VARCHAR) || '.example.com/item/'"
)


@register("junk_link_filter", """
WITH links AS (
  SELECT o_orderkey % 311 AS page, o_orderkey AS o
  FROM orders WHERE o_orderkey % 4 = 2
)
SELECT page AS parent_docid,
       CAST(ROW_NUMBER() OVER (PARTITION BY page ORDER BY o) - 1 AS INT)
           AS within_order,
       """ + _SPAN_URL_SQL + """ || CAST(o AS VARCHAR) AS url,
       'a' AS tag,
       'anchor-' || CAST(o AS VARCHAR) AS anchor
FROM links
""")
def q_junk_link_filter(spark, sf_dir):
    """F3: empty/javascript:/mailto:/'@' hrefs are dropped before
    canonicalization — run through the real parse kernel with 3 of 4 spans
    junk. Ref: parser/Parser.java:138-144."""
    from .parse import extract_candidates

    href = F.concat(F.lit("/item/"), F.col("o").cast("string"))
    pages = _span_pages(spark, sf_dir, href, junk=True)
    return extract_candidates(pages, 5000, include_binary=False).select(
        "parent_docid", "within_order", "url", "tag", "anchor")


@register("outlink_cap", """
WITH links AS (
  SELECT o_orderkey % 311 AS page, o_orderkey AS o,
         ROW_NUMBER() OVER (PARTITION BY o_orderkey % 311 ORDER BY o_orderkey)
             AS rn
  FROM orders
)
SELECT page AS parent_docid,
       CAST(rn - 1 AS INT) AS within_order,
       """ + _SPAN_URL_SQL + """ || CAST(o AS VARCHAR) AS url,
       'a' AS tag,
       'anchor-' || CAST(o AS VARCHAR) AS anchor
FROM links WHERE rn <= 4
""")
def q_outlink_cap(spark, sf_dir):
    """O5: the outgoing-link cap counts candidates BEFORE the break check
    (`urlCount++; if (urlCount > max) break;`), so max_outlinks=3 keeps up
    to FOUR candidates per page — the reference's off-by-one, reproduced by
    the real kernel and asserted by the oracle's `rn <= 4`.
    Ref: parser/Parser.java:152-155."""
    from .parse import extract_candidates

    href = F.concat(F.lit("/item/"), F.col("o").cast("string"))
    pages = _span_pages(spark, sf_dir, href, junk=False)
    return extract_candidates(pages, 3, include_binary=False).select(
        "parent_docid", "within_order", "url", "tag", "anchor")


@register("within_page_dedup", """
WITH links AS (
  SELECT o_orderkey % 311 AS page, o_orderkey AS o, o_orderkey % 2 AS pk
  FROM orders
),
firsts AS (
  SELECT page, pk, MIN(o) AS first_o
  FROM links GROUP BY page, pk
)
SELECT page AS parent_docid,
       CAST(ROW_NUMBER() OVER (PARTITION BY page ORDER BY first_o) - 1
            AS INT) AS within_order,
       """ + _SPAN_URL_SQL + """ || CAST(pk AS VARCHAR) AS url,
       'a' AS tag,
       'anchor-' || CAST(first_o AS VARCHAR) AS anchor
FROM firsts
""")
def q_within_page_dedup(spark, sf_dir):
    """J2: within-page dedup keeps the FIRST occurrence (document order) of
    each canonical URL — href family collapses to 2 targets per page, so the
    kernel's HashSet-add semantics (tag/anchor/order of the first span) are
    fully exercised. Ref: parser/Parser.java:123,151 (HashSet<WebURL>.add)."""
    from .parse import extract_candidates

    href = F.concat(F.lit("/item/"), (F.col("o") % 2).cast("string"))
    pages = _span_pages(spark, sf_dir, href, junk=False)
    return extract_candidates(pages, 5000, include_binary=False).select(
        "parent_docid", "within_order", "url", "tag", "anchor")


@register("seed_pipeline", """
WITH raw AS (
  SELECT c_custkey AS k,
         'http://seed' || CAST(c_custkey % 11 AS VARCHAR)
           || '.example.com/s/' || CAST(c_custkey % 400 AS VARCHAR) AS url
  FROM customer WHERE c_custkey % 7 <> 0
),
firsts AS (SELECT url, MIN(k) AS fk FROM raw GROUP BY url)
SELECT url,
       ROW_NUMBER() OVER (ORDER BY fk) AS docid,
       CAST(0 AS INT) AS depth
FROM firsts
""")
def q_seed_pipeline(spark, sf_dir):
    """S1: seed injection — canonicalize (real kernel UDF; invalid seeds
    like mailto: rejected), first-occurrence dedup, docids in arrival order,
    depth 0. Ref: crawler/CrawlController.java:305-380 (addSeed)."""
    from ..functions.udfs import canonicalize_udf

    raw = _t(spark, sf_dir, "customer").select(
        "c_custkey",
        F.when(F.col("c_custkey") % 7 == 0,
               F.concat(F.lit("mailto:cust"), F.col("c_custkey").cast("string"),
                        F.lit("@example.com")))
        .otherwise(F.concat(
            F.lit("http://SEED"), (F.col("c_custkey") % 11).cast("string"),
            F.lit(".Example.COM/s/"), (F.col("c_custkey") % 400).cast("string"),
        )).alias("raw_url"))
    canon = raw.select(
        "c_custkey", canonicalize_udf(F.col("raw_url")).alias("url")
    ).filter(F.col("url").isNotNull())
    firsts = canon.groupBy("url").agg(F.min("c_custkey").alias("fk"))
    w = Window.orderBy("fk")
    return firsts.select(
        "url", F.row_number().over(w).cast("long").alias("docid"),
        F.lit(0).cast("int").alias("depth"))


@register("warm_start_register", """
WITH pairs AS (
  SELECT c_custkey AS docid,
         'http://w' || CAST(c_custkey % 9 AS VARCHAR) || '.example.com/w/'
           || CAST(c_custkey % 300 AS VARCHAR) AS url,
         c_custkey % 300 AS m
  FROM customer
),
firsts AS (
  SELECT url, MIN(docid) AS docid, MIN(m) AS m FROM pairs GROUP BY url
)
SELECT url, docid FROM firsts WHERE m % 5 <> 0
""")
def q_warm_start_register(spark, sf_dir):
    """S2: warm-start bulk registration (CrawlController.addSeenUrl) — the
    scale shape of engine.add_seen_urls: first-occurrence per canonical URL,
    anti-join against the already-seen set (broadcast build side = the
    batch), monotone-docid admission vacuous on a docid-ordered dump.
    Ref: crawler/CrawlController.java:388-401; plans/engine.py
    add_seen_urls."""
    pairs = _t(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("docid"),
        F.concat(F.lit("http://w"), (F.col("c_custkey") % 9).cast("string"),
                 F.lit(".example.com/w/"),
                 (F.col("c_custkey") % 300).cast("string")).alias("url"))
    firsts = pairs.groupBy("url").agg(F.min("docid").alias("docid"))
    # previously-seen set: the url family members whose path id is % 5 == 0
    seen = (
        _t(spark, sf_dir, "customer")
        .filter((F.col("c_custkey") % 300) % 5 == 0)
        .select(F.concat(
            F.lit("http://w"), (F.col("c_custkey") % 9).cast("string"),
            F.lit(".example.com/w/"),
            (F.col("c_custkey") % 300).cast("string")).alias("url"))
        .distinct()
    )
    return firsts.join(F.broadcast(seen), "url", "left_anti")


@register("should_visit_gate", """
WITH urls AS (
  SELECT p_partkey,
         'http://host' || CAST(p_partkey % 9 AS VARCHAR) || '.example.com/f/'
           || CAST(p_partkey AS VARCHAR) ||
           CASE CAST(p_partkey % 6 AS INT)
             WHEN 0 THEN '.html' WHEN 1 THEN '.css' WHEN 2 THEN '.js'
             WHEN 3 THEN '.png' WHEN 4 THEN '.pdf' ELSE '' END AS url
  FROM part
)
SELECT p_partkey, url FROM urls
WHERE NOT regexp_matches(url, '\\.(css|js|gif|jpe?g|png|mp3|mp4|zip|gz|pdf)$')
""")
def q_should_visit_gate(spark, sf_dir):
    """F4: shouldVisit extension-filter gate — the canonical crawler4j
    example (BasicCrawler.FILTERS): reject static-resource extensions. Same
    rlike the engine applies for cfg.should_visit_pattern.
    Ref: crawler/WebCrawler.java:438-446 (default true; user override)."""
    urls = _t(spark, sf_dir, "part").select(
        "p_partkey",
        F.concat(
            F.lit("http://host"), (F.col("p_partkey") % 9).cast("string"),
            F.lit(".example.com/f/"), F.col("p_partkey").cast("string"),
            F.when(F.col("p_partkey") % 6 == 0, ".html")
            .when(F.col("p_partkey") % 6 == 1, ".css")
            .when(F.col("p_partkey") % 6 == 2, ".js")
            .when(F.col("p_partkey") % 6 == 3, ".png")
            .when(F.col("p_partkey") % 6 == 4, ".pdf")
            .otherwise(""),
        ).alias("url"))
    return urls.filter(
        ~F.col("url").rlike(r"\.(css|js|gif|jpe?g|png|mp3|mp4|zip|gz|pdf)$"))


@register("url_rewrite_hook", """
SELECT o_orderkey AS docid,
       regexp_replace(
         'http://h' || CAST(o_orderkey % 40 AS VARCHAR)
           || '.example.com/o/' || CAST(o_orderkey AS VARCHAR)
           || '?session=abc&page=' || CAST(o_orderkey % 5 AS VARCHAR),
         'session=[^&]*&', '') AS url
FROM orders
""")
def q_url_rewrite_hook(spark, sf_dir):
    """F12: handleUrlBeforeProcess — a user-supplied DataFrame→DataFrame
    rewrite applied to the claimed batch before fetch (the engine calls
    cfg.url_rewrite(slotted); this query invokes a sample hook through the
    same contract). Ref: crawler/WebCrawler.java:183-185; plans/engine.py
    url_rewrite."""
    def sample_rewrite(df: DataFrame) -> DataFrame:
        # strip a session-tracking query param, keep the rest
        return df.withColumn(
            "url", F.regexp_replace("url", r"session=[^&]*&", ""))

    claimed = _t(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("docid"),
        F.concat(F.lit("http://h"), (F.col("o_orderkey") % 40).cast("string"),
                 F.lit(".example.com/o/"), F.col("o_orderkey").cast("string"),
                 F.lit("?session=abc&page="),
                 (F.col("o_orderkey") % 5).cast("string")).alias("url"))
    hook = sample_rewrite  # EngineConfig.url_rewrite contract
    return hook(claimed)


@register("robots_cache_lookup", _FRONTIER_CTE + """
, paths AS (
  SELECT host, docid,
         CASE CAST(docid % 3 AS INT)
           WHEN 0 THEN '/private/x' || CAST(docid AS VARCHAR)
           WHEN 1 THEN '/public/y' || CAST(docid AS VARCHAR)
           ELSE '/' END AS path
  FROM frontier
),
rules AS (SELECT 'h' || CAST(r AS VARCHAR) AS host FROM RANGE(0, 20) t(r))
SELECT p.host, p.path,
       CASE WHEN r.host IS NULL THEN TRUE
            ELSE NOT (p.path LIKE '/private/%') END AS allowed
FROM paths p LEFT JOIN rules r ON p.host = r.host
""")
def q_robots_cache_lookup(spark, sf_dir):
    """J4: robots cache lookup — host→directives left join; a host with no
    cached directives allows everything (RobotstxtServer.allows returns
    true on cache miss in this fork's flow). Runs the REAL robots_allow_udf
    over the joined rule arrays. Ref: robotstxt/RobotstxtServer.java:79-107,
    plans/engine.py robots gate."""
    from ..functions.udfs import robots_allow_udf

    # _spread: the per-row robots kernel UDF over the full frontier would
    # otherwise run in the input file's 1-2 tasks (guide §2.5)
    fr = _spread(spark, _frontier(spark, sf_dir), "docid")
    paths = fr.select(
        "host", "docid",
        F.when(F.col("docid") % 3 == 0,
               F.concat(F.lit("/private/x"), F.col("docid").cast("string")))
        .when(F.col("docid") % 3 == 1,
              F.concat(F.lit("/public/y"), F.col("docid").cast("string")))
        .otherwise("/").alias("path"))
    rules = spark.range(0, 20).select(
        F.concat(F.lit("h"), F.col("id").cast("string")).alias("host"),
        F.array().cast("array<string>").alias("gen_disallow"),
        F.array().cast("array<string>").alias("gen_allow"),
        F.array(F.lit("/private/")).alias("spec_disallow"),
        F.array().cast("array<string>").alias("spec_allow"))
    joined = paths.join(F.broadcast(rules), "host", "left")
    return joined.select(
        "host", "path",
        robots_allow_udf(
            F.col("path"), F.col("gen_disallow"), F.col("gen_allow"),
            F.col("spec_disallow"), F.col("spec_allow")).alias("allowed"))


# Expected rows for the robots-parser fixtures below, derived from the
# reference-parity unit suite (tests/test_robots.py mirrors
# robotstxt/RobotstxtParser.java:37-110). Shape: one row per parsed rule.
_ROBOTS_FIXTURES = [
    ("f1", "User-agent: crawler4j\nDisallow: /private/\n"
           "Allow: /private/open/\nDisallow: /tmp\n"),
    ("f2", "User-agent: *\nDisallow: /search\nAllow: /search/about\n"),
    ("f3", "# comment\n\nUser-AGENT: Crawler4J\nDisallow: /a\n\n"
           "User-agent: *\nDisallow: /b\n"),
    ("f4", "User-agent: crawler4j\nDisallow: /x/\nDisallow:\n"),
    ("f5", "User-agent: other\nDisallow: /\n"),
    ("f6", ""),
]

_ROBOTS_FIXTURE_ORACLE = """
SELECT * FROM (VALUES
  ('f1', 'spec_disallow', 0, '/private/'),
  ('f1', 'spec_disallow', 1, '/tmp'),
  ('f1', 'spec_allow',    0, '/private/open/'),
  ('f2', 'gen_disallow',  0, '/search'),
  ('f2', 'gen_allow',     0, '/search/about'),
  ('f3', 'spec_disallow', 0, '/a'),
  ('f3', 'gen_disallow',  0, '/b'),
  ('f4', 'spec_disallow', 0, '/x/')
) AS t(fixture, rule_kind, pos, path)
"""


@register("robots_parse_fixture", _ROBOTS_FIXTURE_ORACLE)
def q_robots_parse_fixture(spark, sf_dir):
    """X4: the robots.txt parser itself — fixture bodies through the real
    Arrow-batched parse UDF, rule arrays posexploded to rows, compared
    against literal expected rules (hand-derived from the reference parser's
    behavior: case-insensitive UA match, comment/blank skip, exact-UA
    sections split from general '*', empty Disallow ignored).
    Ref: robotstxt/RobotstxtParser.java:37-110."""
    from ..functions.udfs import parse_robots_udf_factory

    parse_udf = parse_robots_udf_factory("crawler4j")
    # r6: ONE parse-UDF evaluation and a single explode over an array of
    # (rule_kind, paths) structs instead of four unioned posexplode
    # branches that each re-ran the UDF (4 ArrowEvalPython stages → 1).
    # NO coalesce(1) on the local relation: coalescing a plain-Python
    # createDataFrame funnels its per-slice pickled partitions through
    # one sequential task (~115 ms each, measured 3.7 s flat).
    bodies = spark.createDataFrame(
        _ROBOTS_FIXTURES, "fixture string, body string")
    parsed = bodies.withColumn("rules", parse_udf(F.col("body")))
    kinds = ("gen_disallow", "gen_allow", "spec_disallow", "spec_allow")
    kp = parsed.select("fixture", F.explode(F.array(*[
        F.struct(F.lit(kind).alias("rule_kind"),
                 F.col(f"rules.{kind}").alias("paths"))
        for kind in kinds
    ])).alias("kp"))
    return kp.select(
        "fixture", F.col("kp.rule_kind").alias("rule_kind"),
        F.posexplode(F.col("kp.paths")).alias("pos", "path"))


@register("charset_decode", """
SELECT doc_id,
       CASE WHEN doc_id % 3 = 0 THEN 'ISO-8859-1'
            WHEN doc_id % 3 = 1 THEN 'UTF-8' ELSE NULL END AS charset,
       'café ü§é ' || text AS decoded
FROM documents WHERE doc_id < 500
""")
def q_charset_decode(spark, sf_dir):
    """X8: charset handling — raw payload bytes decoded with the charset=
    parameter of the Content-Type header (ISO-8859-1 / UTF-8 / absent →
    platform default). The payload is encoded with the SAME charset the
    header declares, so a correct decode round-trips the text; decoding
    latin-1 bytes as UTF-8 would corrupt the non-ASCII prefix and fail the
    hash compare. Runs the real netkit kernels through an Arrow-batched UDF —
    the vectorized batch forms (charset_series + decode_contents): one regex
    extract pass plus one C-speed Series.str.decode per distinct charset,
    no per-row Python. Ref: crawler/Page.java:129-135,
    parser/Parser.java:79-82,162-171."""
    from typing import Iterator as _It

    from pyspark.sql.types import (
        LongType, StringType, StructField, StructType,
    )

    from ..functions.netkit import charset_series, decode_contents

    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 500)
    pages = docs.select(
        "doc_id",
        F.when(F.col("doc_id") % 3 == 0,
               F.lit("text/plain; charset=ISO-8859-1"))
        .when(F.col("doc_id") % 3 == 1, F.lit('text/plain; charset="UTF-8"'))
        .otherwise(F.lit("text/plain")).alias("content_type"),
        F.when(F.col("doc_id") % 3 == 0,
               F.encode(F.concat(F.lit("café ü§é "), F.col("text")),
                        "ISO-8859-1"))
        .otherwise(
            F.encode(F.concat(F.lit("café ü§é "), F.col("text")), "UTF-8"))
        .alias("content_data"))

    out_schema = StructType([
        StructField("doc_id", LongType()),
        StructField("charset", StringType()),
        StructField("decoded", StringType()),
    ])

    def gen(batches: _It[pd.DataFrame]) -> _It[pd.DataFrame]:
        for pdf in batches:
            cs = charset_series(pdf["content_type"])
            decoded = decode_contents(pdf["content_data"], cs)
            yield pd.DataFrame({"doc_id": pdf["doc_id"],
                                "charset": cs.where(cs.notna(), None),
                                "decoded": decoded})

    return pages.mapInPandas(gen, out_schema)


# --- IVF-style ANN (build + probe) -----------------------------------------
# Centroids = a deterministic subsample (vec_id % 37 == 0) standing in for
# k-means centroids (no RNG, identical on both engines); the *shape* is the
# production IVF plan: broadcast the small centroid set, one pass to assign
# every vector to its nearest cell, then probes search only their cell —
# at 100 TB the assignment is the partitioning key of the vector table and
# a probe touches 1/k of the data (nprobe cells).

_IVF_COS = """ROUND(list_dot_product({a}::DOUBLE[], {b}::DOUBLE[])
      / (SQRT(list_dot_product({a}::DOUBLE[], {a}::DOUBLE[]))
         * SQRT(list_dot_product({b}::DOUBLE[], {b}::DOUBLE[]))), 6)"""


@register("ann_ivf_assign", """
WITH cents AS (
  SELECT vec_id AS cent_id, embedding AS cv FROM embeddings
  WHERE vec_id % 37 = 0
),
scored AS (
  SELECT e.vec_id, c.cent_id,
         """ + _IVF_COS.format(a="e.embedding", b="c.cv") + """ AS sim,
         ROW_NUMBER() OVER (
           PARTITION BY e.vec_id
           ORDER BY """ + _IVF_COS.format(a="e.embedding", b="c.cv")
           + """ DESC, c.cent_id) AS rn
  FROM embeddings e CROSS JOIN cents c
)
SELECT vec_id, cent_id, sim FROM scored WHERE rn = 1
""")
def q_ann_ivf_assign(spark, sf_dir):
    """IVF build step: assign every vector to its nearest centroid.
    Broadcast the centroid set, JVM-side dot products, per-vector argmax via
    a window — one shuffle on vec_id, no all-pairs. Similarity rounded to
    6 dp BEFORE the argmax so Spark and the oracle break float-noise ties
    identically (then by centroid id)."""
    emb = _t(spark, sf_dir, "embeddings")
    cents = (emb.filter(F.col("vec_id") % 37 == 0)
             .select(F.col("vec_id").alias("cent_id"),
                     F.col("embedding").alias("cv")))
    scored = (
        _spread(spark, emb.select("vec_id", "embedding"), "vec_id")
        .crossJoin(F.broadcast(cents))
        .select(
            "vec_id", "cent_id",
            F.round(
                _dot(F.col("embedding"), F.col("cv"))
                / (F.sqrt(_dot(F.col("embedding"), F.col("embedding")))
                   * F.sqrt(_dot(F.col("cv"), F.col("cv")))), 6)
            .alias("sim"))
    )
    w = Window.partitionBy("vec_id").orderBy(F.desc("sim"), "cent_id")
    return (scored.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1).drop("rn"))


@register("ann_ivf_probe", """
WITH cents AS (
  SELECT vec_id AS cent_id, embedding AS cv FROM embeddings
  WHERE vec_id % 37 = 0
),
assign AS (
  SELECT vec_id, cent_id, emb FROM (
    SELECT e.vec_id, c.cent_id, e.embedding AS emb,
           ROW_NUMBER() OVER (
             PARTITION BY e.vec_id
             ORDER BY """ + _IVF_COS.format(a="e.embedding", b="c.cv")
             + """ DESC, c.cent_id) AS rn
    FROM embeddings e CROSS JOIN cents c
  ) WHERE rn = 1
),
q AS (SELECT cent_id AS qcell, emb AS qv FROM assign WHERE vec_id = 1)
SELECT a.vec_id,
       """ + _IVF_COS.format(a="a.emb", b="q.qv") + """ AS sim
FROM assign a CROSS JOIN q
WHERE a.cent_id = q.qcell AND a.vec_id <> 1
ORDER BY sim DESC, a.vec_id
LIMIT 10
""")
def q_ann_ivf_probe(spark, sf_dir):
    """IVF probe: top-10 neighbors of query vec_id=1 searched ONLY inside
    the query's cell (nprobe=1) — the scale path where a probe reads 1/k of
    the vector table instead of all of it. Exactness is traded for the cell
    boundary, as in any IVF index."""
    emb = _t(spark, sf_dir, "embeddings")
    cents = (emb.filter(F.col("vec_id") % 37 == 0)
             .select(F.col("vec_id").alias("cent_id"),
                     F.col("embedding").alias("cv")))
    scored = (
        _spread(spark, emb.select("vec_id", "embedding"), "vec_id")
        .crossJoin(F.broadcast(cents))
        .select(
            "vec_id", "cent_id", "embedding",
            F.round(
                _dot(F.col("embedding"), F.col("cv"))
                / (F.sqrt(_dot(F.col("embedding"), F.col("embedding")))
                   * F.sqrt(_dot(F.col("cv"), F.col("cv")))), 6)
            .alias("sim"))
    )
    w = Window.partitionBy("vec_id").orderBy(F.desc("sim"), "cent_id")
    assign = (scored.withColumn("rn", F.row_number().over(w))
              .filter(F.col("rn") == 1)
              .select("vec_id", "cent_id",
                      F.col("embedding").alias("emb")))
    q = (assign.filter(F.col("vec_id") == 1)
         .select(F.col("cent_id").alias("qcell"), F.col("emb").alias("qv")))
    return (
        assign.join(F.broadcast(q), assign.cent_id == F.col("qcell"))
        .filter(F.col("vec_id") != 1)
        .select(
            "vec_id",
            F.round(
                _dot(F.col("emb"), F.col("qv"))
                / (F.sqrt(_dot(F.col("emb"), F.col("emb")))
                   * F.sqrt(_dot(F.col("qv"), F.col("qv")))), 6)
            .alias("sim"))
        .orderBy(F.desc("sim"), "vec_id")
        .limit(10)
    )


@register("ann_ivf_probe_multi", """
WITH cents AS (
  SELECT vec_id AS cent_id, embedding AS cv FROM embeddings
  WHERE vec_id % 37 = 0
),
assign AS (
  SELECT vec_id, cent_id, emb FROM (
    SELECT e.vec_id, c.cent_id, e.embedding AS emb,
           ROW_NUMBER() OVER (
             PARTITION BY e.vec_id
             ORDER BY """ + _IVF_COS.format(a="e.embedding", b="c.cv")
             + """ DESC, c.cent_id) AS rn
    FROM embeddings e CROSS JOIN cents c
  ) WHERE rn = 1
),
q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 1),
qcells AS (
  SELECT cent_id FROM (
    SELECT c.cent_id,
           ROW_NUMBER() OVER (
             ORDER BY """ + _IVF_COS.format(a="c.cv", b="q.qv")
             + """ DESC, c.cent_id) AS rn
    FROM cents c CROSS JOIN q
  ) WHERE rn <= 3
)
SELECT a.vec_id,
       """ + _IVF_COS.format(a="a.emb", b="q.qv") + """ AS sim
FROM assign a JOIN qcells USING (cent_id) CROSS JOIN q
WHERE a.vec_id <> 1
ORDER BY sim DESC, a.vec_id
LIMIT 10
""")
def q_ann_ivf_probe_multi(spark, sf_dir):
    """IVF probe with nprobe=3 — the recall knob every real ANN deployment
    turns first: rank ALL centroids against the query (a k-row broadcast,
    trivial), take the 3 nearest cells, search the union of their members.
    A probe reads nprobe/k of the vector table; recall rises because the
    true neighbors straddling the query's cell boundary are now in range.
    Same rounding/tie-break discipline as ``ann_ivf_probe`` (6 dp, then
    ids) so the DuckDB oracle hashes identically."""
    emb = _t(spark, sf_dir, "embeddings")
    cents = (emb.filter(F.col("vec_id") % 37 == 0)
             .select(F.col("vec_id").alias("cent_id"),
                     F.col("embedding").alias("cv")))
    scored = (
        _spread(spark, emb.select("vec_id", "embedding"), "vec_id")
        .crossJoin(F.broadcast(cents))
        .select(
            "vec_id", "cent_id", "embedding",
            F.round(
                _dot(F.col("embedding"), F.col("cv"))
                / (F.sqrt(_dot(F.col("embedding"), F.col("embedding")))
                   * F.sqrt(_dot(F.col("cv"), F.col("cv")))), 6)
            .alias("sim"))
    )
    w = Window.partitionBy("vec_id").orderBy(F.desc("sim"), "cent_id")
    assign = (scored.withColumn("rn", F.row_number().over(w))
              .filter(F.col("rn") == 1)
              .select("vec_id", "cent_id",
                      F.col("embedding").alias("emb")))
    qv = (emb.filter(F.col("vec_id") == 1)
          .select(F.col("embedding").alias("qv")))
    # nprobe nearest cells: a k-row × 1-row broadcast product + top-3 —
    # driver-trivial at any scale (k centroids, not the vector table)
    qcells = (
        cents.crossJoin(F.broadcast(qv))
        .select(
            "cent_id",
            F.round(
                _dot(F.col("cv"), F.col("qv"))
                / (F.sqrt(_dot(F.col("cv"), F.col("cv")))
                   * F.sqrt(_dot(F.col("qv"), F.col("qv")))), 6)
            .alias("csim"))
        .orderBy(F.desc("csim"), "cent_id")
        .limit(3)
        .select("cent_id")
    )
    return (
        assign.join(F.broadcast(qcells), "cent_id")
        .filter(F.col("vec_id") != 1)
        .crossJoin(F.broadcast(qv))
        .select(
            "vec_id",
            F.round(
                _dot(F.col("emb"), F.col("qv"))
                / (F.sqrt(_dot(F.col("emb"), F.col("emb")))
                   * F.sqrt(_dot(F.col("qv"), F.col("qv")))), 6)
            .alias("sim"))
        .orderBy(F.desc("sim"), "vec_id")
        .limit(10)
    )


# --- Dedup cluster resolution (connected components) ------------------------
# LSH gives *pairwise* dup signals; a real dedup pipeline must resolve them
# into clusters (A~B, B~C => {A,B,C} keep one). That resolution is connected
# components over the candidate graph — the step between "bucket join" and
# "keep canonical doc" in every at-scale dedup system (e.g. the CCNet /
# RefinedWeb pipelines). Edges here are the minhash band buckets' star edges
# (member -> bucket-min hub), so |E| is bounded by the bucket memberships —
# never all-pairs.

@register("dedup_cc_label",
          _TOKENS_CTE.format(where="").replace(
              "WITH idx", "WITH RECURSIVE idx", 1) + _SHINGLES_CTE + """
, salts AS (SELECT UNNEST(RANGE(0, 8)) AS salt),
mh AS (
  SELECT doc_id, salt,
         MIN(md5(CAST(salt AS VARCHAR) || '|' || shingle)) AS minhash
  FROM shingles CROSS JOIN salts
  GROUP BY doc_id, salt
),
bands AS (
  SELECT doc_id, CAST(salt // 2 AS INT) AS band,
         STRING_AGG(minhash, '' ORDER BY salt) AS bucket_sig
  FROM mh GROUP BY doc_id, CAST(salt // 2 AS INT)
),
hubs AS (
  SELECT band, bucket_sig, MIN(doc_id) AS hub, COUNT(*) AS n
  FROM bands GROUP BY band, bucket_sig
),
edges AS (
  SELECT DISTINCT b.doc_id AS a, h.hub AS hb
  FROM bands b JOIN hubs h
    ON b.band = h.band AND b.bucket_sig = h.bucket_sig
  WHERE h.n >= 2 AND b.doc_id <> h.hub
),
sym AS (SELECT a, hb AS b FROM edges UNION SELECT hb AS a, a AS b FROM edges),
reach(v, lab) AS (
  SELECT DISTINCT a, a FROM sym
  UNION
  SELECT s.a, r.lab FROM sym s JOIN reach r ON s.b = r.v
),
lab AS (SELECT v AS doc_id, MIN(lab) AS cluster_id FROM reach GROUP BY v)
SELECT doc_id, cluster_id,
       CAST(COUNT(*) OVER (PARTITION BY cluster_id) AS BIGINT) AS cluster_size
FROM lab
""")
def q_dedup_cc_label(spark, sf_dir):
    """Connected components over the minhash-LSH candidate graph: every doc
    that shares a band bucket with another doc gets the component-minimum
    doc_id as its cluster label (the canonical survivor), plus the cluster
    size. The CC itself is the shared ``operators/graph.py`` resolver —
    min-label propagation WITH pointer doubling (O(log diameter) rounds),
    keyed joins only, localCheckpoint-truncated lineage. The oracle is the
    same graph closed with a recursive CTE."""
    sh = _shingles(spark, sf_dir)
    mh = sh.groupBy("doc_id").agg(*[
        F.min(F.md5(F.concat_ws("|", F.lit(str(s)), F.col("shingle"))))
        .alias(f"m{s}")
        for s in range(8)
    ])
    bands = mh.select(
        "doc_id",
        F.posexplode(F.array(*[
            F.concat(F.col(f"m{2 * b}"), F.col(f"m{2 * b + 1}"))
            for b in range(4)
        ])).alias("band", "bucket_sig"),
    )
    hubs = bands.groupBy("band", "bucket_sig").agg(
        F.min("doc_id").alias("hub"), F.count("*").alias("n"))
    # Star edges member->hub; materialized once (bounded: one row per
    # bucket membership) so the union below doesn't recompute the minhash
    # aggregation per branch.
    edges = (
        bands.join(hubs, ["band", "bucket_sig"])
        .filter((F.col("n") >= 2) & (F.col("doc_id") != F.col("hub")))
        .select("doc_id", "hub").distinct()
        .localCheckpoint()
    )
    from .graph import connected_components

    cc, _rounds = connected_components(
        edges.select(F.col("doc_id").alias("a"), F.col("hub").alias("b")))
    labels = cc.select(F.col("node").alias("doc_id"),
                       F.col("component").alias("cluster_id"))
    w_cl = Window.partitionBy("cluster_id")
    return labels.select(
        "doc_id", "cluster_id",
        F.count("*").over(w_cl).alias("cluster_size"))


# --- Benchmark contamination ------------------------------------------------


@register("contamination_ngram",
          _TOKENS_CTE.format(where="") + _SHINGLES_CTE + """
, bench AS (SELECT DISTINCT shingle FROM shingles WHERE doc_id % 20 = 0),
corp AS (
  SELECT DISTINCT doc_id, shingle FROM shingles WHERE doc_id % 20 <> 0
)
SELECT c.doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_shingles,
       CAST(SUM(CASE WHEN b.shingle IS NOT NULL THEN 1 ELSE 0 END)
            AS BIGINT) AS n_hits,
       ROUND(SUM(CASE WHEN b.shingle IS NOT NULL THEN 1 ELSE 0 END)::DOUBLE
             / COUNT(*), 6) AS contamination
FROM corp c LEFT JOIN bench b ON c.shingle = b.shingle
GROUP BY c.doc_id
""")
def q_contamination_ngram(spark, sf_dir):
    """Benchmark-contamination check: fraction of each corpus document's
    distinct 3-gram shingles that collide with the eval-benchmark shingle
    set (docs with doc_id % 20 == 0 stand in for the benchmark; the rest are
    the corpus). The scale shape is the whole point: benchmark suites are
    MBs while the corpus is TBs, so the benchmark shingle set is the
    BROADCAST side of a left join streaming over the corpus shingles — the
    100 TB table is scanned once and never shuffled by shingle; the only
    shuffle is the per-doc rollup, keyed by doc_id."""
    sh = _shingles(spark, sf_dir)
    bench = (sh.filter(F.col("doc_id") % 20 == 0)
             .select("shingle").distinct()
             .withColumn("hit", F.lit(1)))
    corp = (sh.filter(F.col("doc_id") % 20 != 0)
            .select("doc_id", "shingle").distinct())
    hits = corp.join(F.broadcast(bench), "shingle", "left")
    return (
        hits.groupBy("doc_id")
        .agg(F.count("*").alias("n_shingles"),
             F.sum(F.coalesce(F.col("hit"), F.lit(0)))
             .cast("long").alias("n_hits"))
        .select(
            "doc_id", "n_shingles", "n_hits",
            F.round(F.col("n_hits").cast("double") / F.col("n_shingles"), 6)
            .alias("contamination"))
    )


# --- IVF training step (Lloyd iteration) ------------------------------------


@register("ann_kmeans_step", """
WITH cents AS (
  SELECT vec_id AS cent_id, embedding AS cv FROM embeddings
  WHERE vec_id % 37 = 0
),
assign AS (
  SELECT vec_id, cent_id, emb FROM (
    SELECT e.vec_id, c.cent_id, e.embedding AS emb,
           ROW_NUMBER() OVER (
             PARTITION BY e.vec_id
             ORDER BY """ + _IVF_COS.format(a="e.embedding", b="c.cv")
             + """ DESC, c.cent_id) AS rn
    FROM embeddings e CROSS JOIN cents c
  ) WHERE rn = 1
),
idx AS (SELECT UNNEST(RANGE(0, 64)) AS pos)
SELECT a.cent_id, CAST(pos AS INT) AS pos,
       ROUND(AVG(a.emb[pos + 1]::DOUBLE), 6) AS c
FROM assign a CROSS JOIN idx
GROUP BY a.cent_id, CAST(pos AS INT)
""")
def q_ann_kmeans_step(spark, sf_dir):
    """One Lloyd iteration's centroid update — the training half of the IVF
    index (``ann_ivf_assign`` is the assignment half; alternate the two to
    train): per (cell, dimension), the mean of the assigned vectors'
    coordinates. posexplode widens each vector to 64 (pos, val) rows BEFORE
    the groupBy so the shuffle key is (cent_id, pos) with full map-side
    combine — partial sums collapse to k*64 rows per task, so shuffle bytes
    are O(k * dim * n_tasks), independent of the vector count. Coordinates
    are averaged in double and rounded to 6 dp on both engines."""
    emb = _t(spark, sf_dir, "embeddings")
    cents = (emb.filter(F.col("vec_id") % 37 == 0)
             .select(F.col("vec_id").alias("cent_id"),
                     F.col("embedding").alias("cv")))
    scored = (
        _spread(spark, emb.select("vec_id", "embedding"), "vec_id")
        .crossJoin(F.broadcast(cents))
        .select(
            "vec_id", "cent_id", "embedding",
            F.round(
                _dot(F.col("embedding"), F.col("cv"))
                / (F.sqrt(_dot(F.col("embedding"), F.col("embedding")))
                   * F.sqrt(_dot(F.col("cv"), F.col("cv")))), 6)
            .alias("sim"))
    )
    w = Window.partitionBy("vec_id").orderBy(F.desc("sim"), "cent_id")
    assign = (scored.withColumn("rn", F.row_number().over(w))
              .filter(F.col("rn") == 1)
              .select("cent_id", F.col("embedding").alias("emb")))
    return (
        assign.select("cent_id", F.posexplode("emb").alias("pos", "val"))
        .groupBy("cent_id", "pos")
        .agg(F.round(F.avg(F.col("val").cast("double")), 6).alias("c"))
    )


# --- Interleaved-span payload contract --------------------------------------


@register("spans_interleave_stats", _TOKENS_CTE.format(where="") + """
, sp AS (
  SELECT doc_id, CAST(pos AS INT) AS "offset",
         CASE WHEN pos % 7 = 3 THEN 'media' ELSE 'text' END AS kind
  FROM tokens
)
SELECT doc_id,
  CAST(COUNT(CASE WHEN kind = 'text' THEN 1 END) AS BIGINT) AS n_text,
  CAST(COUNT(CASE WHEN kind = 'media' THEN 1 END) AS BIGINT) AS n_media,
  COALESCE(MIN(CASE WHEN kind = 'media' THEN "offset" END), -1)
      AS first_media_offset,
  CAST(COUNT(CASE WHEN next_kind IS NOT NULL AND kind <> next_kind THEN 1
             END) AS BIGINT) AS kind_changes,
  md5(STRING_AGG(kind || ':' || "offset", ';' ORDER BY "offset")) AS seq_hash
FROM (
  SELECT sp.*,
         LEAD(kind) OVER (PARTITION BY doc_id ORDER BY "offset") AS next_kind
  FROM sp
)
GROUP BY doc_id
""")
def q_spans_interleave_stats(spark, sf_dir):
    """The input-contract payload, end to end: build each document as ONE
    row holding the interleaved span array
    ``array<struct<kind,text,media_ref,offset>>`` (every 7th token becomes a
    media span with a media_ref, the rest text spans — deterministically
    interleaved), then compute order-sensitive stats WITHOUT exploding it:
    text/media counts, first media offset, number of kind alternations, and
    an order fingerprint (md5 of the kind:offset sequence). All of it is
    JVM higher-order functions over the array column — ``filter`` /
    ``zip_with`` / ``transform`` / ``aggregate`` — zero Python, zero extra
    shuffle beyond the one groupBy that assembles the array; the
    ``sort_array`` on an offset-first struct is what makes the assembled
    order deterministic (collect_list alone is NOT order-stable). The
    fingerprint equals the oracle's ORDER BY offset STRING_AGG, i.e. the
    span-sequence-equality invariant the engine's parity suite asserts on
    real crawled documents (tests/test_engine_parity.py)."""
    toks = _tokens(spark, sf_dir)
    is_media = (F.col("pos") % 7) == 3
    rows = toks.select(
        "doc_id",
        F.struct(
            F.col("pos").cast("int").alias("offset"),
            F.when(is_media, F.lit("media")).otherwise(F.lit("text"))
            .alias("kind"),
            F.when(~is_media, F.col("tok")).alias("text"),
            F.when(is_media, F.concat(
                F.lit("img://"), F.col("doc_id").cast("string"),
                F.lit("/"), F.col("pos").cast("string"))).alias("media_ref"),
        ).alias("s"))
    docs = (
        rows.groupBy("doc_id")
        .agg(F.sort_array(F.collect_list("s")).alias("spans0"))
        # contract field order (kind, text, media_ref, offset)
        .withColumn("spans", F.expr(
            "transform(spans0, s -> struct("
            "s.kind as kind, s.text as text, "
            "s.media_ref as media_ref, s.offset as offset))"))
    )
    return docs.select(
        "doc_id",
        F.expr("cast(size(filter(spans, s -> s.kind = 'text')) as bigint)")
        .alias("n_text"),
        F.expr("cast(size(filter(spans, s -> s.kind = 'media')) as bigint)")
        .alias("n_media"),
        F.expr("coalesce(array_min(transform("
               "filter(spans, s -> s.kind = 'media'), s -> s.offset)), -1)")
        .alias("first_media_offset"),
        F.expr("cast(size(filter(zip_with("
               "spans, slice(spans, 2, greatest(size(spans) - 1, 0)), "
               "(a, b) -> b is not null and a.kind != b.kind), "
               "x -> x)) as bigint)")
        .alias("kind_changes"),
        F.expr("md5(concat_ws(';', transform(spans, "
               "s -> concat(s.kind, ':', cast(s.offset as string)))))")
        .alias("seq_hash"),
    )


# --- Distributed warm start under the oracle gate ---------------------------


@register("warm_start_bulk", """
WITH rows AS (
  SELECT c_custkey AS "ord",
         CASE WHEN c_custkey % 3 = 0
              THEN 'd' || CAST(c_custkey % 50 AS VARCHAR)
              ELSE 'u' || CAST(c_custkey AS VARCHAR) END AS url,
         CASE WHEN c_custkey % 3 = 0
              THEN 10000 + c_custkey
              ELSE (c_custkey * 577) % 2000 END AS docid
  FROM customer
),
firsts AS (
  SELECT "ord", url, docid,
         ROW_NUMBER() OVER (PARTITION BY url ORDER BY "ord") AS rn
  FROM rows
),
elig AS (SELECT "ord", url, docid FROM firsts WHERE rn = 1),
scan AS (
  SELECT "ord", url, docid,
         MAX(docid) OVER (ORDER BY "ord"
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pm
  FROM elig
)
SELECT "ord", url, CAST(docid AS BIGINT) AS docid
FROM scan WHERE docid > 0 AND docid > COALESCE(pm, 0)
""")
def q_warm_start_bulk(spark, sf_dir):
    """S2 at dump scale, driven through the REAL resolver
    (operators/warm_start.resolve_warm_batch): a synthetic registration
    batch with docid-rejections (scrambled-docid unique urls) and heavy
    duplicate urls (monotone-docid rows) is resolved by the distributed
    record-scan + fixpoint, and must equal the sequential addSeenUrl walk.
    The input is engineered so no freeing event occurs (every
    docid-rejected url has no later occurrence), which makes the walk
    CLOSED-FORM — first occurrence per url, then an exclusive running max
    — so DuckDB window SQL is the exact oracle; the general interleaved
    case is covered by the hypothesis equivalence suite
    (tests/test_warm_start.py). Ref: crawler/CrawlController.java:388-401."""
    from .warm_start import resolve_warm_batch

    cust = _t(spark, sf_dir, "customer")
    rows = cust.select(
        F.col("c_custkey").cast("long").alias("ord"),
        F.when(F.col("c_custkey") % 3 == 0,
               F.concat(F.lit("d"), (F.col("c_custkey") % 50).cast("string")))
        .otherwise(F.concat(F.lit("u"), F.col("c_custkey").cast("string")))
        .alias("url"),
        F.when(F.col("c_custkey") % 3 == 0, F.lit(10000) + F.col("c_custkey"))
        .otherwise((F.col("c_custkey") * 577) % 2000)
        .cast("long").alias("docid"),
    )
    accepted, _hwm = resolve_warm_batch(rows, hwm0=0, seen_df=None)
    return accepted.select("ord", "url", "docid")


# --- Link-graph authority (frontier prioritization signal) ------------------


@register("graph_pagerank_step", """
WITH edges AS (
  SELECT DISTINCT o_orderkey % 400 AS src,
                  (o_orderkey * 7 + o_custkey) % 400 AS dst
  FROM orders
),
outdeg AS (SELECT src, COUNT(*) AS d FROM edges GROUP BY src),
contrib AS (
  SELECT e.dst AS node, SUM(1.0::DOUBLE / o.d) AS c
  FROM edges e JOIN outdeg o ON e.src = o.src
  GROUP BY e.dst
),
nodes AS (SELECT src AS node FROM edges UNION SELECT dst AS node FROM edges)
SELECT n.node, ROUND(0.15 + 0.85 * COALESCE(contrib.c, 0), 6) AS pr
FROM nodes n LEFT JOIN contrib ON n.node = contrib.node
""")
def q_graph_pagerank_step(spark, sf_dir):
    """One PageRank power iteration (damping 0.85, uniform init 1.0) over a
    synthetic host link graph — the authority signal a production crawler
    feeds back into frontier priority (OPIC/PageRank ordering; the
    reference's priority byte, WebURL.java, is user-set — this computes
    one). The canonical two-shuffle step: degree join keyed on src (at
    scale: pre-partition edges by src so this is co-located), then the
    contribution aggregation keyed on dst with full map-side combine.
    Iterate by feeding `pr` back as the next round's weights — each
    iteration is exactly this plan, so K iterations are 2K shuffles over
    an edge table partitioned once."""
    edges = (
        _t(spark, sf_dir, "orders")
        .select((F.col("o_orderkey") % 400).alias("src"),
                ((F.col("o_orderkey") * 7 + F.col("o_custkey")) % 400)
                .alias("dst"))
        .distinct()
    )
    outdeg = edges.groupBy("src").agg(F.count("*").alias("d"))
    contrib = (
        edges.join(outdeg, "src")
        .groupBy("dst").agg(F.sum(F.lit(1.0) / F.col("d")).alias("c"))
        .withColumnRenamed("dst", "node")
    )
    nodes = (edges.select(F.col("src").alias("node"))
             .union(edges.select(F.col("dst").alias("node"))).distinct())
    return (
        nodes.join(contrib, "node", "left")
        .select("node",
                F.round(F.lit(0.15) + F.lit(0.85) * F.coalesce("c", F.lit(0.0)),
                        6).alias("pr"))
    )


@register("graph_pagerank", """
WITH edges AS (
  SELECT DISTINCT o_orderkey % 400 AS src,
                  (o_orderkey * 7 + o_custkey) % 400 AS dst
  FROM orders
),
outdeg AS (SELECT src, COUNT(*) AS d FROM edges GROUP BY src),
nodes AS (SELECT src AS node FROM edges UNION SELECT dst AS node FROM edges),
c1 AS (
  SELECT e.dst AS node, SUM(1.0::DOUBLE / o.d) AS c
  FROM edges e JOIN outdeg o ON e.src = o.src GROUP BY e.dst
),
pr1 AS (
  SELECT n.node, 0.15 + 0.85 * COALESCE(c1.c, 0) AS pr
  FROM nodes n LEFT JOIN c1 ON n.node = c1.node
),
c2 AS (
  SELECT e.dst AS node, SUM(p.pr / o.d) AS c
  FROM edges e JOIN outdeg o ON e.src = o.src
               JOIN pr1 p ON p.node = e.src
  GROUP BY e.dst
)
SELECT n.node, ROUND(0.15 + 0.85 * COALESCE(c2.c, 0) + 1e-9, 6) AS pr
FROM nodes n LEFT JOIN c2 ON n.node = c2.node
""")
def q_graph_pagerank(spark, sf_dir):
    """Multi-iteration PageRank (n_iter=2, damping 0.85) through the
    factored ``operators/graph.pagerank`` loop — per-iteration
    localCheckpoint, two shuffles per round (src-keyed joins + dst-keyed
    aggregate), dangling mass not redistributed. The oracle unrolls the
    same two iterations as nested CTEs; 6-dp rounding on the final ranks
    only (intermediate pr1 stays full-precision in both systems; the 1e-9
    nudge keeps exact-.5e-6 rationals like 0.8990625 off the half-way
    boundary where Spark and DuckDB round apart)."""
    from .graph import pagerank

    edges = (
        _t(spark, sf_dir, "orders")
        .select((F.col("o_orderkey") % 400).alias("src"),
                ((F.col("o_orderkey") * 7 + F.col("o_custkey")) % 400)
                .alias("dst"))
        .distinct()
    )
    return pagerank(edges, n_iter=2).select(
        "node", F.round(F.col("pr") + F.lit(1e-9), 6).alias("pr"))


@register("graph_hits_step", """
WITH edges AS (
  SELECT DISTINCT o_orderkey % 400 AS src,
                  (o_orderkey * 7 + o_custkey) % 400 AS dst
  FROM orders
),
nodes AS (SELECT src AS node FROM edges UNION SELECT dst AS node FROM edges),
a_sum AS (SELECT dst AS node, COUNT(*) AS a FROM edges GROUP BY dst),
auth AS (
  SELECT n.node, CAST(COALESCE(a_sum.a, 0) AS BIGINT) AS auth
  FROM nodes n LEFT JOIN a_sum ON n.node = a_sum.node
),
h_sum AS (
  SELECT e.src AS node, SUM(auth.auth) AS h
  FROM edges e JOIN auth ON auth.node = e.dst GROUP BY e.src
)
SELECT n.node, auth.auth, CAST(COALESCE(h_sum.h, 0) AS BIGINT) AS hub
FROM nodes n JOIN auth ON auth.node = n.node
             LEFT JOIN h_sum ON h_sum.node = n.node
""")
def q_graph_hits_step(spark, sf_dir):
    """One HITS power iteration (Kleinberg hubs/authorities — the
    complementary crawl-authority signal to PageRank: a hub page that
    links to many authorities is where a crawler harvests frontier mass)
    through the factored ``operators/graph.hits`` loop over the same
    synthetic orders-derived link graph as ``graph_pagerank``.
    Unnormalized, so one iteration from hub=1 is integer-exact: auth =
    in-degree, hub = Σ auth(out-neighbors) — the oracle states exactly
    that, and the hash compare is float-free."""
    from .graph import hits

    edges = (
        _t(spark, sf_dir, "orders")
        .select((F.col("o_orderkey") % 400).alias("src"),
                ((F.col("o_orderkey") * 7 + F.col("o_custkey")) % 400)
                .alias("dst"))
        .distinct()
    )
    return hits(edges, n_iter=1).select(
        "node",
        F.col("auth").cast("long").alias("auth"),
        F.col("hub").cast("long").alias("hub"))
