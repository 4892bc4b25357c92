"""URL-domain queries — the reference F1's real URL semantics
(``url_filter.py:107-321``): host extraction, subdomain walk-up against a
domain blocklist, quality-source exclusion, and the broadcast anti-join
form for large blocklists (SURVEY §2.4 mapping).

``documents`` has no URL column, so a deterministic URL is synthesized
from (source, doc_id) — both engines build the identical string.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from webscale_multimodal_datapipeline_spark.catalog import load_table
from webscale_multimodal_datapipeline_spark.functions import text as TX
from webscale_multimodal_datapipeline_spark.plans import oracle_fragments as OQ
from webscale_multimodal_datapipeline_spark.session import local_frame

BLOCKED_DOMAINS = ("src1.example.com", "badsite.org")
# || not concat(): DuckDB's concat() ignores NULL args where Spark's
# F.concat propagates — a NULL source must mean NULL url in BOTH engines
_URL = "('https://www.' || source || '.example.com/page/' || CAST(doc_id AS VARCHAR))"


def _with_url(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return d.withColumn(
        "url",
        F.concat(
            F.lit("https://www."), F.col("source"), F.lit(".example.com/page/"),
            F.col("doc_id").cast("string"),
        ),
    )


def domain_of(url: Column | str) -> Column:
    """Host extraction — native ``parse_url(url, 'HOST')``."""
    c = F.col(url) if isinstance(url, str) else url
    return F.parse_url(c, F.lit("HOST"))


def domain_blocked(domain: Column, blocklist: tuple[str, ...]) -> Column:
    """Subdomain walk-up (``url_filter.py:207-234``): blocked if the host
    equals a blocked domain OR is a subdomain of one. Expressed as suffix
    tests — identical semantics to the reference's iterative strip-one-
    label loop, but a codegen'd expression."""
    out = F.lit(False)
    for d in blocklist:
        out = out | (domain == d) | domain.endswith("." + d)
    return out


def u_domain_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """parse_url HOST + registrable-domain-ish suffix per doc."""
    df = _with_url(spark, sf_dir)
    dom = domain_of("url")
    return df.select(
        "doc_id",
        dom.alias("domain"),
        # last two labels = registrable domain (example.com)
        F.when(
            dom.isNotNull(),
            F.concat_ws(
                ".",
                F.element_at(F.split(dom, r"\."), -2),
                F.element_at(F.split(dom, r"\."), -1),
            ),
        ).alias("base_domain"),  # concat_ws SKIPS null args ('' not NULL)
    )


U_DOMAIN_SQL = f"""
SELECT doc_id,
       regexp_extract(u, '://([^/]+)', 1) AS domain,
       array_to_string(list_slice(string_split(regexp_extract(u, '://([^/]+)', 1), '.'), -2, -1), '.') AS base_domain
FROM (SELECT doc_id, {_URL} AS u FROM documents)
"""


def u_subdomain_walkup_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Drop docs whose host is (a subdomain of) a blocked domain.
    www.src1.example.com walks up to src1.example.com → blocked."""
    df = _with_url(spark, sf_dir)
    dom = domain_of("url")
    return df.filter(~domain_blocked(dom, BLOCKED_DOMAINS)).select("doc_id", "source")


U_WALKUP_SQL = f"""
SELECT doc_id, source FROM (
  SELECT doc_id, source, regexp_extract({_URL}, '://([^/]+)', 1) AS d
  FROM documents
)
WHERE NOT (d = 'src1.example.com' OR d LIKE '%.src1.example.com'
        OR d = 'badsite.org' OR d LIKE '%.badsite.org')
"""


def u_blocklist_antijoin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Large-blocklist form: broadcast LEFT ANTI join against a blocklist
    table (the scale path for RefinedWeb's 4.6M-domain list — ``isin``
    stops scaling, a broadcast hash anti-join doesn't)."""
    df = _with_url(spark, sf_dir).withColumn("domain", domain_of("url"))
    blocklist = local_frame(
        spark,
        [("www.src1.example.com",), ("www.src7.example.com",)], "domain string"
    )
    return df.join(F.broadcast(blocklist), "domain", "left_anti").select(
        "doc_id", "source"
    )


U_ANTIJOIN_SQL = f"""
SELECT doc_id, source FROM (
  SELECT doc_id, source, regexp_extract({_URL}, '://([^/]+)', 1) AS domain
  FROM documents
)
WHERE COALESCE(domain NOT IN ('www.src1.example.com', 'www.src7.example.com'), TRUE)
"""
# COALESCE(..., TRUE): a NULL domain makes NOT IN evaluate to NULL (row
# silently dropped) while Spark's left_anti keeps it — URL-less rows pass
# an anti-join blocklist untouched (the NOT-IN class, section 28)


QUERIES = {
    "u_domain_extract": u_domain_extract,
    "u_subdomain_walkup_filter": u_subdomain_walkup_filter,
    "u_blocklist_antijoin": u_blocklist_antijoin,
}

ORACLE = {
    "u_domain_extract": U_DOMAIN_SQL,
    "u_subdomain_walkup_filter": U_WALKUP_SQL,
    "u_blocklist_antijoin": U_ANTIJOIN_SQL,
}


# ---------------------------------------------------------------------------
# Crawl-frontier scheduling (politeness interleaving)
# ---------------------------------------------------------------------------

_FRONTIER_TOPN = 200


def u_crawl_frontier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Politeness-aware crawl-frontier scheduling (the CommonCrawl-side
    companion to S2: which URLs to fetch next): URLs are prioritized by a
    quality score, but consecutive fetches must rotate across hosts —
    no host may be hit twice before every other host with pending work
    has been hit once (the per-host FIFO + round-robin discipline real
    frontiers implement, e.g. Heritrix queues / Frontera).

    The interleave is pure window algebra: rank URLs WITHIN each host by
    score (per-host fetch order), then order globally by (round =
    within-host rank, score desc) — one window over the host partition,
    one bounded top-N. No queue state, no driver loop; every host's
    queue is planned in parallel and the exchange carries (host, score,
    id) triples only.

    The score is the reference URLFilter's word-score inverted into a
    priority (quality sources first, ``url_filter.py:255-282`` shape) —
    here a deterministic hash-mix stands in for fetch-priority signals."""
    df = _with_url(spark, sf_dir)
    scored = df.select(
        "doc_id",
        domain_of("url").alias("host"),
        (TX.md5_long("url") % 1000).alias("score"),
    )
    w_host = Window.partitionBy("host").orderBy(F.desc("score"), F.asc("doc_id"))
    return (
        scored.withColumn("host_rank", F.row_number().over(w_host))
        .orderBy("host_rank", F.desc("score"), F.asc("doc_id"))
        .limit(_FRONTIER_TOPN)
        .select("doc_id", "host", "score", "host_rank")
    )


U_FRONTIER_SQL = f"""
WITH scored AS (
  SELECT doc_id,
         'www.' || source || '.example.com' AS host,
         {OQ.sql_md5_long(_URL)} % 1000 AS score
  FROM documents
)
SELECT doc_id, host, score, host_rank FROM (
  SELECT doc_id, host, score,
         ROW_NUMBER() OVER (PARTITION BY host ORDER BY score DESC, doc_id ASC)
           AS host_rank
  FROM scored
)
ORDER BY host_rank, score DESC, doc_id ASC
LIMIT {_FRONTIER_TOPN}
"""

QUERIES["u_crawl_frontier"] = u_crawl_frontier
ORACLE["u_crawl_frontier"] = U_FRONTIER_SQL
