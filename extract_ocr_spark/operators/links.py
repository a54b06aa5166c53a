"""Distributed link extraction (E1/E2): the HTML-kernel link extractor as
an Arrow-batched UDF over constructed pages, exploded to one row per link.
Oracle: the page template is closed-form, so the expected link set is
expressible in SQL (base-href resolution + normalization included).
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from . import iterate, md5_long
from ..kernels.htmlkit import extract_links

_LINKS_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("links", T.ArrayType(T.StringType())),
    ]
)


def extract_links_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Build a page per document with a <base href>, relative + absolute +
    fragment + mailto links; extract with the kernel; explode."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    html = F.concat(
        F.lit("<html><head><base href='https://EX.com/Sub/'></head><body>"
              "<a href='page-"), F.col("doc_id").cast("string"),
        F.lit(".html'>rel</a>"
              "<a href='/abs?agt=index'>abs</a>"
              "<a href='#frag'>skip</a>"
              "<a href='mailto:a@b.c'>skip</a>"
              "<a href='HTTPS://Other.COM/P#x'>off</a>"
              "</body></html>"),
    )
    pages = docs.select("doc_id", html.alias("html"))

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            links = [
                extract_links(h, page_url=f"https://ex.com/start/{d}")
                for d, h in zip(pdf["doc_id"], pdf["html"])
            ]
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "links": links})

    out = pages.mapInPandas(fn, schema=_LINKS_SCHEMA)
    return (
        out.select("doc_id", F.posexplode("links").alias("pos", "link"))
        .orderBy("doc_id", "pos")
    )


EXTRACT_LINKS_SQL = """
SELECT doc_id, pos, link FROM (
  SELECT doc_id, 0 AS pos,
         'https://ex.com/Sub/page-' || doc_id || '.html' AS link
  FROM documents
  UNION ALL
  SELECT doc_id, 1, 'https://ex.com/abs' FROM documents
  UNION ALL
  SELECT doc_id, 2, 'https://other.com/P' FROM documents
) ORDER BY doc_id, pos
"""

QUERIES = {"extract_links": extract_links_query}
ORACLES = {"extract_links": EXTRACT_LINKS_SQL}


# -- S7: sitemap discovery + parse (reference ingest_data_uspto_gov.py:587-610)

_SITEMAP_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("robots_sitemaps", T.ArrayType(T.StringType())),
        T.StructField("sitemap_locs", T.ArrayType(T.StringType())),
    ]
)


def sitemap_discovery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per document, synthesize a robots.txt body (Sitemap: lines, mixed
    case, fragments, an empty value) and a sitemap XML (whitespace-padded
    and uppercase-host <loc> entries); run the actual kernel
    (``robotskit.sitemaps_from_robots`` / ``parse_sitemap_urls``) in an
    Arrow batch; explode to (doc_id, src, pos, url). The templates are
    closed-form, so the expected normalized URLs are expressible in SQL."""
    from ..kernels.robotskit import parse_sitemap_urls, sitemaps_from_robots

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    did = F.col("doc_id").cast("string")
    host = F.concat(F.lit("h"), (F.col("doc_id") % 7).cast("string"),
                    F.lit(".example"))
    robots = F.concat(
        F.lit("User-agent: *\nDisallow: /private\nSitemap: https://"),
        host, F.lit("/s-"), did, F.lit(".xml\n"),
        F.when(F.col("doc_id") % 3 == 0, F.concat(
            F.lit("SITEMAP:   HTTPS://"), F.upper(host),
            F.lit("/Extra-"), did, F.lit(".xml#frag\n"))).otherwise(F.lit("")),
        F.lit("sitemap:\n"),  # empty value: dropped by the kernel
    )
    xml = F.concat(
        F.lit("<urlset><url><loc> https://"), host, F.lit("/p/"), did,
        F.lit(" </loc></url>"),
        F.when(F.col("doc_id") % 2 == 0, F.concat(
            F.lit("<url><loc>https://OTHER.example/q/"), did,
            F.lit("#sec</loc></url>"))).otherwise(F.lit("")),
        F.lit("</urlset>"),
    )
    pages = docs.select("doc_id", robots.alias("robots"), xml.alias("xml"))

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame({
                "doc_id": pdf["doc_id"],
                "robots_sitemaps": [sitemaps_from_robots(r)
                                    for r in pdf["robots"]],
                "sitemap_locs": [parse_sitemap_urls(x) for x in pdf["xml"]],
            })

    out = pages.mapInPandas(fn, schema=_SITEMAP_SCHEMA)
    robots_rows = out.select(
        "doc_id", F.lit("robots").alias("src"),
        F.posexplode("robots_sitemaps").alias("pos", "url"))
    loc_rows = out.select(
        "doc_id", F.lit("sitemap").alias("src"),
        F.posexplode("sitemap_locs").alias("pos", "url"))
    return robots_rows.unionByName(loc_rows).orderBy("doc_id", "src", "pos")


SITEMAP_DISCOVERY_SQL = """
WITH rows AS (
  SELECT doc_id, 'robots' AS src, 0 AS pos,
         'https://h' || (doc_id % 7) || '.example/s-' || doc_id || '.xml' AS url
  FROM documents
  UNION ALL
  SELECT doc_id, 'robots', 1,
         'https://h' || (doc_id % 7) || '.example/Extra-' || doc_id || '.xml'
  FROM documents WHERE doc_id % 3 = 0
  UNION ALL
  SELECT doc_id, 'sitemap', 0,
         'https://h' || (doc_id % 7) || '.example/p/' || doc_id
  FROM documents
  UNION ALL
  SELECT doc_id, 'sitemap', 1, 'https://other.example/q/' || doc_id
  FROM documents WHERE doc_id % 2 = 0
)
SELECT doc_id, src, pos, url FROM rows ORDER BY doc_id, src, pos
"""

QUERIES["sitemap_discovery"] = sitemap_discovery
ORACLES["sitemap_discovery"] = SITEMAP_DISCOVERY_SQL


# -- E2: multi-attribute link extraction (ingest_data_uspto_gov.py:536-585) ----

def extract_links_multi_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per document, a page exercising every attribute the reference
    collects — meta-refresh url=, link[href], img[src], form[action],
    object[data], script[src] — plus fragment/mailto skips; extracted by
    the real kernel, exploded in document order."""
    from ..kernels.htmlkit import extract_links_multi

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    did = F.col("doc_id").cast("string")
    html = F.concat(
        F.lit("<html><head><meta http-equiv='refresh' content='3; url=/next-"),
        did,
        F.lit(".html'><link href='style-"), did, F.lit(".css'></head><body>"
              "<img src='img/p-"), did,
        F.lit(".png'><form action='/submit?id="), did,
        F.lit("'></form><object data='media/o-"), did,
        F.lit(".swf'></object><a href='#frag'>s</a>"
              "<a href='mailto:x@y.z'>s</a><script src='js/app-"), did,
        F.lit(".js'></script></body></html>"),
    )
    pages = docs.select("doc_id", html.alias("html"))

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            links = [
                extract_links_multi(
                    h, page_url=f"https://m.example/dir/page{d}.html")
                for d, h in zip(pdf["doc_id"], pdf["html"])
            ]
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "links": links})

    out = pages.mapInPandas(fn, schema=_LINKS_SCHEMA)
    return (
        out.select("doc_id", F.posexplode("links").alias("pos", "link"))
        .orderBy("doc_id", "pos")
    )


EXTRACT_LINKS_MULTI_SQL = """
WITH rows AS (
  SELECT doc_id, 0 AS pos,
         'https://m.example/next-' || doc_id || '.html' AS link
  FROM documents
  UNION ALL SELECT doc_id, 1,
         'https://m.example/dir/style-' || doc_id || '.css' FROM documents
  UNION ALL SELECT doc_id, 2,
         'https://m.example/dir/img/p-' || doc_id || '.png' FROM documents
  UNION ALL SELECT doc_id, 3,
         'https://m.example/submit?id=' || doc_id FROM documents
  UNION ALL SELECT doc_id, 4,
         'https://m.example/dir/media/o-' || doc_id || '.swf' FROM documents
  UNION ALL SELECT doc_id, 5,
         'https://m.example/dir/js/app-' || doc_id || '.js' FROM documents
)
SELECT doc_id, pos, link FROM rows ORDER BY doc_id, pos
"""

QUERIES["extract_links_multi"] = extract_links_multi_query
ORACLES["extract_links_multi"] = EXTRACT_LINKS_MULTI_SQL


# -- E5: title extraction (h1 → title → Untitled) ------------------------------

def extract_titles_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Three template variants per doc_id % 3: h1 present (wins, with
    whitespace collapse), title-only fallback, neither → 'Untitled' —
    the kernel's full fallback chain, one row per doc."""
    from ..kernels.htmlkit import extract_title

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    did = F.col("doc_id").cast("string")
    html = (
        F.when(F.col("doc_id") % 3 == 0, F.concat(
            F.lit("<html><head><title>T "), did,
            F.lit("</title></head><body><h1>  H\t"), did,
            F.lit("  </h1><p>body</p></body></html>")))
        .when(F.col("doc_id") % 3 == 1, F.concat(
            F.lit("<html><head><title> T  "), did,
            F.lit(" </title></head><body><p>no h1</p></body></html>")))
        .otherwise(F.lit(
            "<html><head><title>  </title></head><body><p>x</p></body></html>"))
    )
    pages = docs.select("doc_id", html.alias("html"))

    _TITLE_SCHEMA = T.StructType([
        T.StructField("doc_id", T.LongType()),
        T.StructField("title", T.StringType()),
    ])

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame({
                "doc_id": pdf["doc_id"],
                "title": [extract_title(h) for h in pdf["html"]],
            })

    return pages.mapInPandas(fn, schema=_TITLE_SCHEMA).orderBy("doc_id")


EXTRACT_TITLES_SQL = """
SELECT doc_id,
       CASE WHEN doc_id % 3 = 0 THEN 'H ' || doc_id
            WHEN doc_id % 3 = 1 THEN 'T ' || doc_id
            ELSE 'Untitled' END AS title
FROM documents ORDER BY doc_id
"""

QUERIES["extract_titles"] = extract_titles_query
ORACLES["extract_titles"] = EXTRACT_TITLES_SQL


def bfs_frontier_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J2/O2 driver-visible check: distributed BFS over a deterministic
    synthetic link graph (dst = (2·id+1) mod n and (3·id+7) mod n over the
    documents table), seeds {0, 17}, depth cutoff 3. Exercises the real
    iterative frontier loop — per-level join ⋈ edges, distinct, anti-join
    against the visited set, depth cap (frontier.py:64; reference crawl
    loop crawl.py:920-1137) — against a recursive-CTE oracle computing
    first-seen (= minimum) depth per reachable doc.
    """
    from ..frontier import bfs_frontier

    edges = _mod_edges(spark, sf_dir).select(
        F.col("src").cast("string").alias("src"),
        F.col("dst").cast("string").alias("dst"))
    out = bfs_frontier(spark, edges, ["0", "17"],
                       max_depth=3, max_pages=1_000_000_000)
    return out.select(F.col("doc_id").cast("long").alias("doc_id"),
                      F.col("depth").cast("int").alias("depth"))


BFS_FRONTIER_SQL = """
WITH RECURSIVE n AS (SELECT count(*) AS c FROM documents),
edges AS (
    SELECT doc_id AS src, (doc_id * 2 + 1) % c AS dst FROM documents, n
    UNION ALL
    SELECT doc_id AS src, (doc_id * 3 + 7) % c AS dst FROM documents, n
),
bfs(doc_id, depth) AS (
    SELECT * FROM (VALUES (CAST(0 AS BIGINT), 0), (CAST(17 AS BIGINT), 0))
    UNION
    SELECT e.dst, b.depth + 1
    FROM bfs b JOIN edges e ON e.src = b.doc_id
    WHERE b.depth < 3
)
SELECT doc_id, CAST(min(depth) AS INT) AS depth
FROM bfs GROUP BY doc_id ORDER BY depth, doc_id
"""

QUERIES["bfs_frontier"] = bfs_frontier_query
ORACLES["bfs_frontier"] = BFS_FRONTIER_SQL


# -- PageRank over the synthetic link graph ---------------------------------

PR_ITERS = 3
PR_D = 0.85
# the teleport constant is COMPUTED (1.0 - 0.85 = 0.15000000000000002,
# one ulp above the 0.15 literal) — the oracle must use THIS double, so
# both damping constants reach DuckDB as repr()-round-tripped strings
# cast to DOUBLE (strtod is correctly rounded; a bare long decimal
# literal would go through DuckDB's DECIMAL path and can re-round)
_PR_TELEPORT = 1.0 - PR_D


def pagerank_scores_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Crawl-prioritization PageRank (3 power iterations, d=0.85) over
    the same deterministic synthetic link graph bfs_frontier uses
    (dst = (2·id+1) mod n and (3·id+7) mod n, multi-edges deduped so
    out-degree is well-defined) — the iterative-graph companion to the
    BFS frontier: rank = where a crawler's budget should go first
    (reference crawl loop crawl.py:920-1137 prioritizes FIFO; this is
    the standard upgrade).

    Scale shape: the (src, dst, deg) edge table is built once and
    reused by every iteration's contribution join; per-iteration cost is
    the inherent PageRank shuffle (join on src, aggregate on dst,
    left-join the node set). ``iterate`` runs the PR_ITERS rounds and
    owns the persist and checkpoint policy.

    Float parity: rank values stay bit-identical across engines by
    induction — contributions r/deg are computed from identical doubles
    and longs, each target's incoming terms fold in src-sorted order
    (F.aggregate over array_sort here, list_reduce over list(ORDER BY
    src) in the oracle), and BOTH damping constants reach the oracle as
    repr()-round-tripped strings of the exact doubles Spark uses (see
    _PR_TELEPORT above); one round(6) at the end."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id")
    n = docs.count()
    edges = _mod_edges(spark, sf_dir).distinct()
    outdeg = edges.groupBy("src").agg(F.count("*").alias("deg"))
    esrc = edges.join(outdeg, "src")

    def power_step(ranks):
        contrib = (esrc.join(ranks, esrc["src"] == ranks["v"])
                   .select(esrc["dst"].alias("t"), esrc["src"],
                           (ranks["r"] / esrc["deg"]).alias("term")))
        summed = contrib.groupBy("t").agg(
            F.aggregate(
                F.array_sort(F.collect_list(F.struct("src", "term"))),
                F.lit(0.0), lambda a, x: a + x["term"]).alias("m"))
        return (docs.select(F.col("doc_id").alias("v"))
                .join(summed, F.col("v") == F.col("t"), "left")
                .select("v", (F.lit(_PR_TELEPORT) / F.lit(n)
                              + F.lit(PR_D) * F.coalesce("m", F.lit(0.0)))
                        .alias("r")))

    ranks = iterate(power_step,
                    docs.select(F.col("doc_id").alias("v"),
                                (F.lit(1.0) / F.lit(n)).alias("r")),
                    rounds=PR_ITERS, reused=(esrc,))
    return (ranks.select(F.col("v").alias("doc_id"),
                         F.round("r", 6).alias("pagerank"))
            .orderBy("doc_id"))


def _pr_iter_sql(prev: str, it: str) -> str:
    return f"""{it} AS (
  SELECT d.doc_id AS v,
         CAST('{_PR_TELEPORT!r}' AS DOUBLE) / n.c
         + CAST('{PR_D!r}' AS DOUBLE) * coalesce(s.m, 0.0) AS r
  FROM documents d CROSS JOIN n LEFT JOIN (
    SELECT e.dst AS t,
           list_reduce(list_prepend(0.0, list(p.r / o.deg ORDER BY e.src)),
                       (a, b) -> a + b) AS m
    FROM edges e JOIN {prev} p ON p.v = e.src
    JOIN outdeg o ON o.src = e.src
    GROUP BY e.dst) s ON s.t = d.doc_id
)"""


PAGERANK_SCORES_SQL = (
    """WITH n AS (SELECT count(*) AS c FROM documents),
edges AS (
  SELECT DISTINCT src, dst FROM (
    SELECT doc_id AS src, (doc_id * 2 + 1) % c AS dst FROM documents, n
    UNION ALL
    SELECT doc_id AS src, (doc_id * 3 + 7) % c AS dst FROM documents, n)
),
outdeg AS (SELECT src, CAST(count(*) AS BIGINT) AS deg FROM edges GROUP BY src),
r0 AS (SELECT doc_id AS v, CAST(1.0 AS DOUBLE) / c AS r FROM documents, n),
"""
    + ",\n".join(_pr_iter_sql(f"r{i}", f"r{i+1}") for i in range(PR_ITERS))
    + f"""
SELECT v AS doc_id, round(r, 6) AS pagerank
FROM r{PR_ITERS} ORDER BY doc_id
""")

QUERIES["pagerank_scores"] = pagerank_scores_query
ORACLES["pagerank_scores"] = PAGERANK_SCORES_SQL


# -- HITS hubs/authorities over the synthetic link graph ---------------------

HITS_ITERS = 2


def hits_scores_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HITS (Kleinberg 1999) hub/authority scores over the same
    deterministic mod-graph pagerank_scores uses — the link-analysis
    complement to PageRank (authorities = well-cited pages, hubs =
    good link collections; the crawl-seed-quality signal). Two mutual
    power iterations: a(v) = Σ h(u) over in-edges, h(u) = Σ a(v) over
    out-edges, each normalized per half-iteration.

    Scale + parity shape: normalization is by the GLOBAL MAX (sup
    norm), not the usual L2 — max over doubles is order-invariant, so
    it needs NO sorted global fold (an L2/L1 normalizer would need an
    ordered reduction over ALL n scores — the one thing that cannot
    scale); the 1-row max joins back by broadcast. The per-node
    incoming/outgoing sums fold in neighbor-sorted order (the pagerank
    induction), divisions are identical-operand IEEE ops, so every
    score is bit-identical across engines before the final round(6).
    Edge table persisted once; each half-iteration localCheckpoints so
    the plan never grows."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id")
    edges = _mod_edges(spark, sf_dir).distinct().persist()

    def _norm(scores: DataFrame) -> DataFrame:
        # pin the half-iteration's join/agg BEFORE deriving the max —
        # aggregating a lazy frame and joining it back re-executes the
        # frame (the markov_transitions lesson); the checkpoint also
        # bounds the iterated plan. The normalized tail stays lazy: it
        # is one broadcast join + divide over the pinned RDD.
        raw = scores.localCheckpoint(eager=True)
        mx = raw.agg(F.max("r").alias("mx"))
        return (raw.crossJoin(F.broadcast(mx))
                .select("v", (F.col("r") / F.col("mx")).alias("r")))

    try:
        h = docs.select(F.col("doc_id").alias("v"), F.lit(1.0).alias("r"))
        a = None
        for _ in range(HITS_ITERS):
            a_in = (edges.join(h, edges["src"] == h["v"])
                    .groupBy(edges["dst"].alias("t"))
                    .agg(F.aggregate(
                        F.array_sort(F.collect_list(
                            F.struct(edges["src"].alias("k"),
                                     h["r"].alias("term")))),
                        F.lit(0.0), lambda acc, x: acc + x["term"])
                        .alias("m")))
            a = _norm(docs.select(F.col("doc_id").alias("v"))
                      .join(a_in, F.col("v") == F.col("t"), "left")
                      .select("v", F.coalesce("m", F.lit(0.0)).alias("r")))
            h_out = (edges.join(a, edges["dst"] == a["v"])
                     .groupBy(edges["src"].alias("t"))
                     .agg(F.aggregate(
                         F.array_sort(F.collect_list(
                             F.struct(edges["dst"].alias("k"),
                                      a["r"].alias("term")))),
                         F.lit(0.0), lambda acc, x: acc + x["term"])
                         .alias("m")))
            h = _norm(docs.select(F.col("doc_id").alias("v"))
                      .join(h_out, F.col("v") == F.col("t"), "left")
                      .select("v", F.coalesce("m", F.lit(0.0)).alias("r")))
    finally:
        edges.unpersist()
    return (h.select(F.col("v").alias("doc_id"),
                     F.round("r", 6).alias("hub"))
            .join(a.select(F.col("v").alias("doc_id"),
                           F.round("r", 6).alias("authority")), "doc_id")
            .orderBy("doc_id"))


def _hits_half_sql(name: str, prev: str, key: str, other: str) -> str:
    """One half-iteration: sum `prev` scores over edges grouped by
    `key` (neighbor-sorted fold), then sup-norm normalize."""
    return f"""{name}_raw AS MATERIALIZED (
  SELECT d.doc_id AS v, coalesce(s.m, 0.0) AS r
  FROM documents d LEFT JOIN (
    SELECT e.{key} AS t,
           list_reduce(list_prepend(0.0, list(p.r ORDER BY e.{other})),
                       (acc, x) -> acc + x) AS m
    FROM edges e JOIN {prev} p ON p.v = e.{other}
    GROUP BY e.{key}) s ON s.t = d.doc_id
),
{name} AS MATERIALIZED (
  SELECT v, r / (SELECT max(r) FROM {name}_raw) AS r FROM {name}_raw
)"""


HITS_SCORES_SQL = (
    """WITH n AS (SELECT count(*) AS c FROM documents),
edges AS MATERIALIZED (
  SELECT DISTINCT src, dst FROM (
    SELECT doc_id AS src, (doc_id * 2 + 1) % c AS dst FROM documents, n
    UNION ALL
    SELECT doc_id AS src, (doc_id * 3 + 7) % c AS dst FROM documents, n)
),
h0 AS (SELECT doc_id AS v, CAST(1.0 AS DOUBLE) AS r FROM documents),
"""
    + ",\n".join(
        _hits_half_sql(f"a{i+1}", f"h{i}", "dst", "src") + ",\n"
        + _hits_half_sql(f"h{i+1}", f"a{i+1}", "src", "dst")
        for i in range(HITS_ITERS))
    + f"""
SELECT h.v AS doc_id, round(h.r, 6) AS hub, round(a.r, 6) AS authority
FROM h{HITS_ITERS} h JOIN a{HITS_ITERS} a ON a.v = h.v
ORDER BY doc_id
""")

QUERIES["hits_scores"] = hits_scores_query
ORACLES["hits_scores"] = HITS_SCORES_SQL


# -- Politeness scheduling over the frontier ---------------------------------

N_HOSTS = 20        # deterministic synthetic host assignment (doc_id % N_HOSTS)
DELAY_BUCKETS = 5   # crawl delay per host = (host % DELAY_BUCKETS) + 1 sec


def crawl_schedule_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-host politeness scheduler: assign every frontier URL a fetch
    slot honoring its host's crawl-delay (the reference is a polite
    crawler — robots gating is P4/S4; this is the scheduling half a
    distributed refetch needs). Hosts are assigned deterministically
    (doc_id mod N_HOSTS) and each host's delay is (host mod 5) + 1
    seconds; within a host, fetch order is doc_id order and
    fetch_at_s = slot * delay.

    Scale shape: ONE window partitioned by host — the per-host queue is
    embarrassingly parallel across hosts (the real cardinality axis at
    web scale), and all arithmetic is exact integers (no floats to
    reconcile)."""
    from pyspark.sql.window import Window

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id")
    host_n = F.col("doc_id") % N_HOSTS
    delay = (host_n % DELAY_BUCKETS + 1).alias("delay_s")
    w = Window.partitionBy("host").orderBy("doc_id")
    return (docs.select(
                "doc_id",
                F.concat(F.lit("h"), host_n).alias("host"),
                delay)
            .withColumn("slot", F.row_number().over(w) - 1)
            .withColumn("fetch_at_s", F.col("slot") * F.col("delay_s"))
            .select("doc_id", "host", "delay_s", "slot", "fetch_at_s")
            .orderBy("doc_id"))


CRAWL_SCHEDULE_SQL = f"""
WITH f AS (
  SELECT doc_id,
         'h' || (doc_id % {N_HOSTS}) AS host,
         (doc_id % {N_HOSTS}) % {DELAY_BUCKETS} + 1 AS delay_s
  FROM documents
)
SELECT doc_id, host, delay_s,
       row_number() OVER (PARTITION BY host ORDER BY doc_id) - 1 AS slot,
       (row_number() OVER (PARTITION BY host ORDER BY doc_id) - 1)
         * delay_s AS fetch_at_s
FROM f ORDER BY doc_id
"""

QUERIES["crawl_schedule"] = crawl_schedule_query
ORACLES["crawl_schedule"] = CRAWL_SCHEDULE_SQL


# -- Incremental crawl diff ---------------------------------------------------

# snapshot-derivation constants, interpolated into BOTH the Spark query
# and the oracle (tuning one side alone cannot desynchronize the pair)
DIFF_PREV_DROP = 10   # docs with id % this == 0 are new this crawl
DIFF_CUR_DROP = 13    # docs with id % this == 0 disappeared this crawl
DIFF_CHANGE = 7       # docs with id % this == 0 changed content
DIFF_MANGLE = " v1"   # suffix simulating the previous crawl's content


def crawl_diff_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot diff between two crawls — the corpus-level refresh
    decision (which docs to refetch / drop / keep) behind the
    reference's per-response conditional-GET logic (S2) and done-skip
    resume (P8). The 'previous' crawl derives deterministically from
    the same table (drop id % DIFF_PREV_DROP == 0, mangle text for
    id % DIFF_CHANGE == 0) and the 'current' crawl drops
    id % DIFF_CUR_DROP == 0, so all four statuses occur: added (new
    this crawl), removed (gone this crawl), changed (content sha
    differs), unchanged. Membership is carried as explicit flags, not
    inferred from sha NULLness, so a NULL-text doc present in both
    snapshots can never masquerade as 'added'.

    Scale shape: one full outer join on the doc key with a content-sha
    equality — both sides shuffle once on the key; the sha comparison
    is per-row. At 10^12 docs this is THE nightly incremental job."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet") \
        .select("doc_id", "text")
    prev = (docs.filter(F.col("doc_id") % DIFF_PREV_DROP != 0)
            .select("doc_id", F.lit(True).alias("in_prev"),
                    F.sha2(F.when(F.col("doc_id") % DIFF_CHANGE == 0,
                                  F.concat(F.col("text"),
                                           F.lit(DIFF_MANGLE)))
                           .otherwise(F.col("text")), 256).alias("prev_sha")))
    cur = (docs.filter(F.col("doc_id") % DIFF_CUR_DROP != 0)
           .select("doc_id", F.lit(True).alias("in_cur"),
                   F.sha2(F.col("text"), 256).alias("cur_sha")))
    joined = cur.join(prev, "doc_id", "full_outer")
    status = (
        F.when(F.col("in_prev").isNull(), "added")
        .when(F.col("in_cur").isNull(), "removed")
        .when(~F.col("cur_sha").eqNullSafe(F.col("prev_sha")), "changed")
        .otherwise("unchanged"))
    return (joined.select("doc_id", status.alias("status"))
            .orderBy("doc_id"))


CRAWL_DIFF_SQL = f"""
WITH prev AS (
  SELECT doc_id, TRUE AS in_prev,
         sha256(CASE WHEN doc_id % {DIFF_CHANGE} = 0
                     THEN text || '{DIFF_MANGLE}'
                     ELSE text END) AS prev_sha
  FROM documents WHERE doc_id % {DIFF_PREV_DROP} != 0
), cur AS (
  SELECT doc_id, TRUE AS in_cur, sha256(text) AS cur_sha
  FROM documents WHERE doc_id % {DIFF_CUR_DROP} != 0
)
SELECT coalesce(cur.doc_id, prev.doc_id) AS doc_id,
       CASE WHEN in_prev IS NULL THEN 'added'
            WHEN in_cur IS NULL THEN 'removed'
            WHEN cur_sha IS DISTINCT FROM prev_sha THEN 'changed'
            ELSE 'unchanged' END AS status
FROM cur FULL OUTER JOIN prev USING (doc_id)
ORDER BY doc_id
"""

QUERIES["crawl_diff"] = crawl_diff_query
ORACLES["crawl_diff"] = CRAWL_DIFF_SQL


# -- Bloom-filter frontier membership -----------------------------------------

BLOOM_K = 3            # hash functions per key
BLOOM_BITS_PER_KEY = 4  # m = 4n: deliberately tight so the false-positive
#                         channel carries measurable signal at EVERY scale
#                         factor (fill ~0.53, FP ~ 0.53^3 ~ 15%); a
#                         production filter uses ~10-14 bits/key and the
#                         construction below is unchanged by that constant
BLOOM_SEEN_MOD = 3     # docs with doc_id % 3 != 0 form the already-crawled set
BLOOM_WORD_BITS = 32   # bits packed per BIGINT word (32 keeps every
#                        shifted mask far from the sign bit on both engines)


def _bloom_url():
    return F.concat(F.lit("https://h"),
                    (F.col("doc_id") % N_HOSTS).cast("string"),
                    F.lit(".example/page/"),
                    F.col("doc_id").cast("string"))


def bloom_url_seen_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter URL-seen membership — the frontier primitive a
    10^12-page crawl needs: 'have we fetched this URL' answered from a
    compact bitmap instead of a join against the full crawl history
    (the distributed analog of the reference's done/failed skip-set P8).

    Build: the seen set (doc_id % BLOOM_SEEN_MOD != 0) hashes each URL
    into BLOOM_K positions of an m = BLOOM_BITS_PER_KEY * n bit space
    (md5-derived, engine-invariant); positions pack into m/32 BIGINT
    words via bit_or. Probe: every candidate URL re-derives its
    positions and is 'maybe seen' iff all K probed bits are set; the
    truly-unseen rows that still hit all K bits are the measured
    false-positive channel.

    Scale shape: the packed filter is O(m/32) rows — bounded by the
    BITS_PER_KEY budget, NOT the corpus row width — so the probe side
    is a broadcast join however large the candidate stream gets; the
    build is one explode + one groupBy(word_idx). All arithmetic is
    integer (md5-long positions, shifts, bitwise or/and)."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet") \
        .select("doc_id")
    seen = docs.filter(F.col("doc_id") % BLOOM_SEEN_MOD != 0) \
        .select(_bloom_url().alias("url"))
    m = seen.agg((F.count("*") * BLOOM_BITS_PER_KEY).alias("m"))

    ks = F.explode(F.array(*[F.lit(i) for i in range(BLOOM_K)])).alias("i")
    bits = (seen.crossJoin(F.broadcast(m))
            .select("url", "m", ks)
            .select((md5_long(F.concat(F.col("url"), F.lit("#"),
                                       F.col("i").cast("string")))
                     % F.col("m")).alias("pos")))
    words = (bits
             .select(F.expr(f"pos DIV {BLOOM_WORD_BITS}").alias("word_idx"),
                     F.expr(f"shiftleft(CAST(1 AS BIGINT), "
                            f"CAST(pos % {BLOOM_WORD_BITS} AS INT))")
                     .alias("mask"))
             .groupBy("word_idx").agg(F.bit_or("mask").alias("word")))

    cand = docs.select(
        "doc_id",
        (F.col("doc_id") % BLOOM_SEEN_MOD != 0).alias("truly_seen"),
        _bloom_url().alias("url"))
    probe = (cand.crossJoin(F.broadcast(m))
             .select("doc_id", "truly_seen", "url", "m", ks)
             .select("doc_id", "truly_seen",
                     (md5_long(F.concat(F.col("url"), F.lit("#"),
                                        F.col("i").cast("string")))
                      % F.col("m")).alias("pos"))
             .select("doc_id", "truly_seen",
                     F.expr(f"pos DIV {BLOOM_WORD_BITS}").alias("word_idx"),
                     F.expr(f"shiftleft(CAST(1 AS BIGINT), "
                            f"CAST(pos % {BLOOM_WORD_BITS} AS INT))")
                     .alias("mask"))
             .join(F.broadcast(words), "word_idx", "left")
             .select("doc_id", "truly_seen",
                     (F.coalesce(F.col("word"), F.lit(0).cast("long"))
                      .bitwiseAND(F.col("mask")) != 0).alias("hit")))
    return (probe.groupBy("doc_id", "truly_seen")
            .agg((F.sum(F.col("hit").cast("int")) == BLOOM_K)
                 .alias("maybe_seen"))
            .select("doc_id", "truly_seen", "maybe_seen",
                    (F.col("maybe_seen") & ~F.col("truly_seen"))
                    .alias("false_pos"))
            .orderBy("doc_id"))


_BLOOM_URL_SQL = (f"'https://h' || (doc_id % {N_HOSTS}) || "
                  f"'.example/page/' || doc_id")
_BLOOM_POS_SQL = ("('0x' || substring(md5(url || '#' || i), 1, 15))::BIGINT"
                  " % m")

_BLOOM_KS = ", ".join(str(i) for i in range(BLOOM_K))

BLOOM_URL_SEEN_SQL = f"""
WITH seen AS (
  SELECT {_BLOOM_URL_SQL} AS url
  FROM documents WHERE doc_id % {BLOOM_SEEN_MOD} != 0
), mm AS (
  SELECT {BLOOM_BITS_PER_KEY} * count(*) AS m FROM seen
), bits AS (
  SELECT {_BLOOM_POS_SQL} AS pos
  FROM seen, mm, unnest([{_BLOOM_KS}]) AS t(i)
), words AS (
  SELECT pos // {BLOOM_WORD_BITS} AS word_idx,
         bit_or(1::BIGINT << CAST(pos % {BLOOM_WORD_BITS} AS INTEGER))
           AS word
  FROM bits GROUP BY pos // {BLOOM_WORD_BITS}
), cand AS (
  SELECT doc_id, doc_id % {BLOOM_SEEN_MOD} != 0 AS truly_seen,
         {_BLOOM_URL_SQL} AS url
  FROM documents
), cpos AS (
  SELECT doc_id, truly_seen, {_BLOOM_POS_SQL} AS pos
  FROM cand, mm, unnest([{_BLOOM_KS}]) AS t(i)
), hits AS (
  SELECT c.doc_id, c.truly_seen,
         (coalesce(w.word, 0)
          & (1::BIGINT << CAST(c.pos % {BLOOM_WORD_BITS} AS INTEGER)))
         != 0 AS hit
  FROM cpos c LEFT JOIN words w ON w.word_idx = c.pos // {BLOOM_WORD_BITS}
), agg AS (
  SELECT doc_id, truly_seen,
         sum(CASE WHEN hit THEN 1 ELSE 0 END) = {BLOOM_K} AS maybe_seen
  FROM hits GROUP BY doc_id, truly_seen
)
SELECT doc_id, truly_seen, maybe_seen,
       maybe_seen AND NOT truly_seen AS false_pos
FROM agg ORDER BY doc_id
"""

QUERIES["bloom_url_seen"] = bloom_url_seen_query
ORACLES["bloom_url_seen"] = BLOOM_URL_SEEN_SQL


# -- Host reputation rollup ----------------------------------------------------

# Reuses the crawl_schedule host assignment (doc_id % N_HOSTS). A doc is
# "short" below this char count; a host whose non-short fraction clears
# REP_ALLOW_SCORE keeps its crawl budget, the rest are queued for review.
REP_SHORT_CHARS = 300
REP_ALLOW_SCORE = 52


def host_reputation_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-host reputation rollup + crawl-budget verdict: the host-level
    twin of the per-doc quality gates (reference analog: the per-endpoint
    report S12/O3 aggregates by source; a polite crawler allocates its
    refetch budget by host, not by page). Score is integer-exact
    (100 - short_docs*100 // docs) so the oracle needs no float
    reconciliation.

    Scale shape: one groupBy on host with map-side partial aggregation —
    hosts are the natural, high-cardinality, well-balanced web-scale key;
    no window, no join, one shuffle of O(hosts) partial rows."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet") \
        .select("doc_id", "n_chars")
    h = (docs.select(
            F.concat(F.lit("h"), F.col("doc_id") % N_HOSTS).alias("host"),
            F.when(F.col("n_chars") < REP_SHORT_CHARS, 1).otherwise(0)
            .alias("short"))
         .groupBy("host")
         .agg(F.count("*").alias("n_docs"),
              F.sum("short").alias("n_short")))
    score = (F.lit(100)
             - F.floor(F.col("n_short") * 100 / F.col("n_docs")))
    return (h.select("host", "n_docs", "n_short",
                     score.alias("rep_score"),
                     F.when(score >= REP_ALLOW_SCORE, "allow")
                     .otherwise("review").alias("verdict"))
            .orderBy("host"))


HOST_REPUTATION_SQL = f"""
WITH h AS (
  SELECT 'h' || (doc_id % {N_HOSTS}) AS host,
    count(*) AS n_docs,
    CAST(sum(CASE WHEN n_chars < {REP_SHORT_CHARS} THEN 1 ELSE 0 END)
         AS BIGINT) AS n_short
  FROM documents GROUP BY 1
)
SELECT host, n_docs, n_short,
  100 - (n_short * 100) // n_docs AS rep_score,
  CASE WHEN 100 - (n_short * 100) // n_docs >= {REP_ALLOW_SCORE}
       THEN 'allow' ELSE 'review' END AS verdict
FROM h ORDER BY host
"""

QUERIES["host_reputation"] = host_reputation_query
ORACLES["host_reputation"] = HOST_REPUTATION_SQL


# -- Anchor-text aggregation (web-graph in-link rollup) -----------------------

_ANCHOR_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType()),
        T.StructField("anchor", T.StringType()),
    ]
)


def anchor_text_agg_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level anchor-text aggregation: every (target url, anchor
    text) pair across the corpus — extracted by the real HTML kernel
    (``htmlkit.extract_anchors``: base-href resolution, link hygiene,
    whitespace-flattened anchor text, image-only anchors skipped) — rolled
    up per target into in-link count, distinct-anchor count, and the top
    anchor by (count desc, text asc). This is the classic web-corpus
    in-link rollup that feeds query->document training pairs and
    title/summary generation.

    The page templates are closed-form over doc_id (cross-document target
    collisions via doc_id % 37, anchor variation via % 5 / % 3, one
    corpus-wide hot target) so the oracle re-derives the pairs in SQL.

    Scale shape: Arrow-batched kernel extraction, then TWO two-phase
    aggregations — (url, anchor) counts first (partial combine absorbs
    the per-page duplication), then the per-url rollup where the top
    anchor is an arg-min over struct(-count, anchor) — no window over the
    pair table, no join. The corpus-wide hot target ('/shared', one key
    with O(corpus) occurrences) is exactly the skew the first partial
    aggregation flattens: each task emits ONE partial row for it."""
    from ..kernels.htmlkit import extract_anchors

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    html = F.concat(
        F.lit("<html><head><base href='https://EX.com/Sub/'></head><body>"
              "<a href='page-"), (F.col("doc_id") % 37).cast("string"),
        F.lit(".html'><b>Guide</b>\n  g"), (F.col("doc_id") % 5).cast("string"),
        F.lit("</a><a href='/shared'>Home</a>"
              "<a href='/shared'><img src='x.png'/></a>"
              "<a href='#frag'>skip</a>"
              "<a href='mailto:a@b.c'>skip</a>"
              "<a href='HTTPS://Other.COM/Top#x'>Top   "),
        (F.col("doc_id") % 3).cast("string"), F.lit("</a></body></html>"),
    )
    pages = docs.select("doc_id", html.alias("html"))

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            urls: list[str] = []
            anchors: list[str] = []
            for d, h in zip(pdf["doc_id"], pdf["html"]):
                for u, t in extract_anchors(
                        h, page_url=f"https://ex.com/start/{d}"):
                    urls.append(u)
                    anchors.append(t)
            yield pd.DataFrame({"url": urls, "anchor": anchors})

    pairs = pages.mapInPandas(fn, schema=_ANCHOR_SCHEMA)
    counts = pairs.groupBy("url", "anchor").agg(F.count("*").alias("c"))
    best = F.min(F.struct((-F.col("c")).alias("nc"),
                          F.col("anchor").alias("a")))
    return (counts.groupBy("url")
            .agg(F.sum("c").alias("inlinks"),
                 F.count("*").alias("n_anchors"),
                 best.alias("b"))
            .select("url", "inlinks", "n_anchors",
                    F.col("b.a").alias("top_anchor"),
                    (-F.col("b.nc")).alias("top_count"))
            .orderBy("url"))


ANCHOR_TEXT_AGG_SQL = """
WITH pairs AS (
  SELECT 'https://ex.com/Sub/page-' || (doc_id % 37) || '.html' AS url,
         'Guide g' || (doc_id % 5) AS anchor
  FROM documents
  UNION ALL
  SELECT 'https://ex.com/shared', 'Home' FROM documents
  UNION ALL
  SELECT 'https://other.com/Top', 'Top ' || (doc_id % 3) FROM documents
),
cnt AS (SELECT url, anchor, count(*) AS c FROM pairs GROUP BY url, anchor)
SELECT url,
  CAST(sum(c) AS BIGINT) AS inlinks,
  CAST(count(*) AS BIGINT) AS n_anchors,
  min(struct_pack(nc := -c, a := anchor)).a AS top_anchor,
  CAST(-(min(struct_pack(nc := -c, a := anchor)).nc) AS BIGINT) AS top_count
FROM cnt GROUP BY url ORDER BY url
"""

QUERIES["anchor_text_agg"] = anchor_text_agg_query
ORACLES["anchor_text_agg"] = ANCHOR_TEXT_AGG_SQL


# -- Community-structure graph (shared by triangle_count / label_propagation) -

BLOCK = 10          # intra-block chord width for the synthetic community graph
BRIDGE_MUL = 7      # sparse inter-block bridge: doc_id*7+3 mod n, every 10th
BRIDGE_ADD = 3


def _mod_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Directed long (src, dst) edges of the synthetic link graph over
    the documents table: dst = (2·id+1) mod n and (3·id+7) mod n, multi-
    edges kept (bfs_frontier, pagerank_scores and hits_scores)."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id")
    n = docs.count()
    src = F.col("doc_id").alias("src")
    return docs.select(src, ((F.col("doc_id") * 2 + 1) % n).alias("dst")) \
        .unionByName(docs.select(
            src, ((F.col("doc_id") * 3 + 7) % n).alias("dst")))


def _block_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical (a < b) undirected edge set of a deterministic
    block-community graph over the documents table: chords i->i+1 and
    i->i+2 inside every block of BLOCK consecutive ids, plus one bridge
    (i*7+3 mod n) from each block head. Unlike the bfs/pagerank mod-graph
    (whose linear maps almost never close 3-cycles), triangles here scale
    with n — every in-block consecutive triple closes one — and blocks
    give label propagation real communities to find."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id")
    return block_edges_of(docs, docs.count())


def block_edges_of(docs: DataFrame, n: int) -> DataFrame:
    """The block-community edge construction over any (doc_id) node
    frame — the one closed form the sf_dir queries share, and the
    5M-node scale graph in BENCH.md."""
    did = F.col("doc_id")
    same_block = lambda d: F.expr(f"(doc_id + {d}) div {BLOCK}") \
        == F.expr(f"doc_id div {BLOCK}")  # noqa: E731
    e1 = docs.filter((did + 1 < n) & same_block(1)) \
        .select(did.alias("a"), (did + 1).alias("b"))
    e2 = docs.filter((did + 2 < n) & same_block(2)) \
        .select(did.alias("a"), (did + 2).alias("b"))
    dst = (did * BRIDGE_MUL + BRIDGE_ADD) % n
    e3 = (docs.filter((did % BLOCK == 0) & (dst != did))
          .select(F.least(did, dst).alias("a"),
                  F.greatest(did, dst).alias("b")))
    return e1.unionByName(e2).unionByName(e3).distinct()


_BLOCK_EDGES_CTE = f"""n AS (SELECT count(*) AS c FROM documents),
raw AS (
  SELECT doc_id AS a, doc_id + 1 AS b FROM documents, n
  WHERE doc_id + 1 < c AND (doc_id + 1) // {BLOCK} = doc_id // {BLOCK}
  UNION ALL
  SELECT doc_id, doc_id + 2 FROM documents, n
  WHERE doc_id + 2 < c AND (doc_id + 2) // {BLOCK} = doc_id // {BLOCK}
  UNION ALL
  SELECT least(doc_id, (doc_id*{BRIDGE_MUL}+{BRIDGE_ADD}) % c),
         greatest(doc_id, (doc_id*{BRIDGE_MUL}+{BRIDGE_ADD}) % c)
  FROM documents, n
  WHERE doc_id % {BLOCK} = 0 AND (doc_id*{BRIDGE_MUL}+{BRIDGE_ADD}) % c <> doc_id
),
edges AS (SELECT DISTINCT a, b FROM raw)"""



def _sym_adj(edges: DataFrame) -> DataFrame:
    """Symmetrized (v, nbr) adjacency of a canonical (a < b) edge list —
    the ONE definition label_propagation and link_prediction share."""
    return (edges.select(F.col("a").alias("v"), F.col("b").alias("nbr"))
            .unionByName(edges.select(F.col("b").alias("v"),
                                      F.col("a").alias("nbr"))))


def triangle_count_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-node triangle participation over the block-community graph —
    the web-graph cohesion signal (link-farm detection, community
    density) next to pagerank_scores' centrality. Canonical a<b<c
    enumeration: edges(a,b) ⋈ edges(b,c) ⋈ edges(a,c), each triangle
    counted once, then exploded to its three corners; every node reports
    (degree, triangles), zeros included. All integers — parity by
    construction.

    Scale shape: the standard two-join closure over a canonically
    oriented edge list. Ordering every edge low-id->high-id is the
    textbook skew cut (each triangle is generated exactly once, and a
    hub's wedge count is split by direction); the edge table is persisted
    and reused across both joins and the degree rollup. At web scale the
    orientation key would be degree rather than id (cuts the max wedge
    fan-out from deg² to out-deg²) — id-orientation keeps the oracle
    twin in plain SQL."""
    edges = _block_edges(spark, sf_dir)
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id")
    edges = edges.persist()
    try:
        out = triangle_count_df(docs, edges).localCheckpoint(eager=True)
    finally:
        edges.unpersist()
    return out


def triangle_count_df(docs: DataFrame, edges: DataFrame) -> DataFrame:
    """Lazy per-node (degree, triangles) rollup over a canonical (a < b)
    edge list (see triangle_count_query for the scale argument; split out
    so the physical plan is pin-testable before the query's persist +
    localCheckpoint hide it)."""
    e1 = edges.select(F.col("a"), F.col("b"))
    e2 = edges.select(F.col("a").alias("b"), F.col("b").alias("c3"))
    e3 = edges.select(F.col("a").alias("ta"), F.col("b").alias("tc"))
    tris = (e1.join(e2, "b")
            .join(e3, (F.col("a") == F.col("ta"))
                  & (F.col("c3") == F.col("tc")))
            .select("a", "b", "c3"))
    node_tri = (tris.select(F.col("a").alias("v"))
                .unionAll(tris.select(F.col("b").alias("v")))
                .unionAll(tris.select(F.col("c3").alias("v")))
                .groupBy("v").agg(F.count("*").alias("triangles")))
    deg = (edges.select(F.col("a").alias("v"))
           .unionAll(edges.select(F.col("b").alias("v")))
           .groupBy("v").agg(F.count("*").alias("degree")))
    return (docs.join(deg, docs["doc_id"] == deg["v"], "left").drop("v")
            .join(node_tri, docs["doc_id"] == node_tri["v"], "left")
            .select("doc_id",
                    F.coalesce("degree", F.lit(0)).alias("degree"),
                    F.coalesce("triangles", F.lit(0)).alias("triangles"))
            .orderBy("doc_id"))


TRIANGLE_COUNT_SQL = f"""
WITH {_BLOCK_EDGES_CTE},
tris AS (
  SELECT e1.a, e1.b, e2.b AS c3
  FROM edges e1 JOIN edges e2 ON e2.a = e1.b
  JOIN edges e3 ON e3.a = e1.a AND e3.b = e2.b
),
node_tri AS (
  SELECT v, CAST(count(*) AS BIGINT) AS triangles FROM (
    SELECT a AS v FROM tris UNION ALL SELECT b FROM tris
    UNION ALL SELECT c3 FROM tris
  ) GROUP BY v
),
deg AS (
  SELECT v, CAST(count(*) AS BIGINT) AS degree FROM (
    SELECT a AS v FROM edges UNION ALL SELECT b FROM edges) GROUP BY v
)
SELECT d.doc_id, coalesce(deg.degree, 0) AS degree,
       coalesce(nt.triangles, 0) AS triangles
FROM documents d LEFT JOIN deg ON deg.v = d.doc_id
LEFT JOIN node_tri nt ON nt.v = d.doc_id
ORDER BY doc_id
"""

QUERIES["triangle_count"] = triangle_count_query
ORACLES["triangle_count"] = TRIANGLE_COUNT_SQL


LPA_ITERS = 3


def label_propagation_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Synchronous label propagation (Raghavan et al. 2007) over the
    block-community graph: labels start as doc_id; each iteration every
    node adopts its neighbors' most frequent label, ties broken by the
    smallest label (min over struct(-count, label)); nodes without
    neighbors keep their label. Three synchronous iterations with a
    deterministic tie-break make the usually-stochastic algorithm exact,
    so the community assignment — and each community's size — is
    hash-checkable. The near-dup clustering twin of this shape is
    neardup_clusters (pointer-jumping components); LPA is the DENSITY
    community detector web graphs use for link-farm / template-cluster
    discovery.

    Scale shape: per iteration, one join of the label table onto the
    symmetrized adjacency (shuffle on nbr == v), one (node, label) count
    with map-side partial aggregation, one arg-min rollup, one left join
    back to the node set; ``iterate`` runs the rounds and owns the
    persist and checkpoint policy. Label skew (a community absorbing
    most of the graph) lands in the COUNT's partial aggregate, not the
    join."""
    edges = _block_edges(spark, sf_dir)
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id")
    labels = label_propagation_df(docs, edges)
    from pyspark.sql.window import Window

    return (labels.select(F.col("v").alias("doc_id"),
                          F.col("lbl").alias("label"))
            .withColumn("community_size",
                        F.count("*").over(Window.partitionBy("label")))
            .orderBy("doc_id"))


def label_propagation_df(docs: DataFrame, edges: DataFrame,
                         iters: int = LPA_ITERS) -> DataFrame:
    """The LPA rounds over any (doc_id) node frame + canonical edge
    list, run by ``iterate``; returns the final (v, lbl) table. Shared by
    the sf_dir query and the 5M-node scale graph in BENCH.md."""
    adj = _sym_adj(edges)

    def lpa_step(labels):
        got = (adj.join(labels.withColumnRenamed("v", "pv"),
                        F.col("nbr") == F.col("pv"))
               .groupBy("v", "lbl").agg(F.count("*").alias("cnt")))
        best = (got.groupBy("v")
                .agg(F.min(F.struct((-F.col("cnt")).alias("nc"),
                                    F.col("lbl").alias("l"))).alias("m"))
                .select("v", F.col("m.l").alias("new_lbl")))
        return (docs.select(F.col("doc_id").alias("v"))
                .join(best, "v", "left")
                .select("v", F.coalesce("new_lbl", F.col("v")).alias("lbl")))

    return iterate(lpa_step,
                   docs.select(F.col("doc_id").alias("v"),
                               F.col("doc_id").alias("lbl")),
                   rounds=iters, reused=(adj,))


def _lpa_iter_sql(prev: str, cur: str) -> str:
    return f"""{cur} AS (
  SELECT d.doc_id AS v, coalesce(m.lbl, d.doc_id) AS lbl
  FROM documents d LEFT JOIN (
    SELECT v, (min(struct_pack(nc := -cnt, lbl := lbl))).lbl AS lbl
    FROM (SELECT a.v, p.lbl, CAST(count(*) AS BIGINT) AS cnt
          FROM adj a JOIN {prev} p ON p.v = a.nbr
          GROUP BY a.v, p.lbl) g(v, lbl, cnt)
    GROUP BY v) m ON m.v = d.doc_id
)"""


LABEL_PROPAGATION_SQL = (
    f"WITH {_BLOCK_EDGES_CTE},\n"
    "adj AS (SELECT a AS v, b AS nbr FROM edges "
    "UNION ALL SELECT b, a FROM edges),\n"
    "l0 AS (SELECT doc_id AS v, doc_id AS lbl FROM documents),\n"
    + ",\n".join(_lpa_iter_sql(f"l{i}", f"l{i+1}") for i in range(LPA_ITERS))
    + f"""
SELECT v AS doc_id, lbl AS label,
       CAST(count(*) OVER (PARTITION BY lbl) AS BIGINT) AS community_size
FROM l{LPA_ITERS} ORDER BY doc_id
""")

QUERIES["label_propagation"] = label_propagation_query
ORACLES["label_propagation"] = LABEL_PROPAGATION_SQL


LP_TOP_K = 50


def link_prediction_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Common-neighbor link prediction over the block-community graph —
    the graph-ML training-pair miner (recommend/"related pages"
    candidates): for every NON-adjacent pair sharing at least one
    neighbor, the common-neighbor count and the neighborhood union size
    (the exact-integer pieces of Jaccard — the float ratio is left to
    the consumer), top LP_TOP_K by (common desc, a, b).

    Scale shape: wedge enumeration is ONE self-join of the symmetrized
    adjacency on the middle vertex — a hub of degree d fans out d^2
    wedge pairs, which is the real-world reason production systems
    degree-cap hubs first (this graph's max degree is ~5, so no cap
    stage here); existing edges leave via a left-anti join, degrees
    join back per endpoint, and the top-K is a TakeOrdered, never a
    global sort."""
    edges = _block_edges(spark, sf_dir).persist()
    try:
        out = link_prediction_df(edges).localCheckpoint(eager=True)
    finally:
        edges.unpersist()
    return out


def link_prediction_df(edges: DataFrame) -> DataFrame:
    """Lazy candidate ranking over a canonical (a < b) edge list (split
    out so the plan is pin-testable before the query's persist +
    localCheckpoint hide it)."""
    adj = _sym_adj(edges)
    deg = adj.groupBy("v").agg(F.count("*").alias("d"))
    x = adj.select(F.col("v").alias("wa"), F.col("nbr").alias("w"))
    y = adj.select(F.col("v").alias("wb"), F.col("nbr").alias("w"))
    wedge = (x.join(y, "w")
             .filter(F.col("wa") < F.col("wb"))
             .groupBy("wa", "wb").agg(F.count("*").alias("common")))
    cand = wedge.join(
        edges, (wedge["wa"] == edges["a"]) & (wedge["wb"] == edges["b"]),
        "left_anti")
    da = deg.select(F.col("v").alias("wa"), F.col("d").alias("da"))
    db = deg.select(F.col("v").alias("wb"), F.col("d").alias("db"))
    return (cand.join(da, "wa").join(db, "wb")
            .select(F.col("wa").alias("a"), F.col("wb").alias("b"),
                    "common",
                    (F.col("da") + F.col("db") - F.col("common"))
                    .alias("union_size"))
            .orderBy(F.desc("common"), "a", "b")
            .limit(LP_TOP_K))


LINK_PREDICTION_SQL = f"""
WITH {_BLOCK_EDGES_CTE},
adj AS (SELECT a AS v, b AS nbr FROM edges UNION ALL SELECT b, a FROM edges),
deg AS (SELECT v, CAST(count(*) AS BIGINT) AS d FROM adj GROUP BY v),
wedge AS (
  SELECT x.v AS a, y.v AS b, CAST(count(*) AS BIGINT) AS common
  FROM adj x JOIN adj y ON x.nbr = y.nbr AND x.v < y.v
  GROUP BY x.v, y.v
),
cand AS (
  SELECT w.a, w.b, w.common
  FROM wedge w ANTI JOIN edges e ON e.a = w.a AND e.b = w.b
)
SELECT c.a, c.b, c.common,
       da.d + db.d - c.common AS union_size
FROM cand c JOIN deg da ON da.v = c.a JOIN deg db ON db.v = c.b
ORDER BY c.common DESC, c.a, c.b
LIMIT {LP_TOP_K}
"""

QUERIES["link_prediction"] = link_prediction_query
ORACLES["link_prediction"] = LINK_PREDICTION_SQL


K_CORE_K = 3      # keep nodes with >= 3 surviving neighbors
K_CORE_ITERS = 6  # bounded synchronous peeling rounds (deterministic;
#                   the fixpoint on this graph family needs SIX rounds —
#                   survivors 450,400,350,300,250,200,200 at n=500 — and
#                   a committed test pins round 6 == the python peeling
#                   fixpoint; the bound keeps the oracle a finite chain)


def k_core_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded k-core peeling over the block-community graph — the
    degeneracy filter web-graph pipelines run before expensive analytics
    (spam-farm cores, dense-community seeds): synchronously drop every
    node with fewer than K surviving neighbors, K_CORE_ITERS rounds.
    Unlike LPA/pagerank (fixed-size state per iteration) this is the
    MONOTONE-SHRINKING iteration shape: the survivor set only loses
    members, so each round's join inputs get cheaper.

    Scale shape: each round is survivor ⋈ adjacency ⋈ survivor (two
    semi-join-shaped equi joins) and a counting aggregate with map-side
    combine; ``iterate`` runs the K_CORE_ITERS rounds and owns the
    persist and checkpoint policy. Output = every node with its in-core
    flag (the true 3-core: 200/500 at test scale, pinned against a
    run-to-fixpoint python reference)."""
    edges = _block_edges(spark, sf_dir)
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id")
    adj = _sym_adj(edges)

    def peel(surv):
        return (adj.join(surv, "v")
                .join(surv.withColumnRenamed("v", "nbr"), "nbr")
                .groupBy("v").agg(F.count("*").alias("d"))
                .filter(F.col("d") >= K_CORE_K)
                .select("v"))

    surv = iterate(peel, adj.select("v").distinct(), rounds=K_CORE_ITERS,
                   reused=(adj,))
    return (docs.join(surv.withColumn("flag", F.lit(True)),
                      docs["doc_id"] == surv["v"], "left")
            .select("doc_id",
                    F.coalesce("flag", F.lit(False)).alias("in_core"))
            .orderBy("doc_id"))


def _kcore_iter_sql(prev: str, cur: str) -> str:
    return f"""{cur} AS MATERIALIZED (
  SELECT v FROM (
    SELECT adj.v, count(*) AS d
    FROM adj JOIN {prev} pa ON pa.v = adj.v
    JOIN {prev} pb ON pb.v = adj.nbr
    GROUP BY adj.v) t WHERE d >= {K_CORE_K}
)"""


K_CORE_SQL = (
    f"WITH {_BLOCK_EDGES_CTE},\n"
    "adj AS (SELECT a AS v, b AS nbr FROM edges "
    "UNION ALL SELECT b, a FROM edges),\n"
    "s0 AS MATERIALIZED (SELECT DISTINCT v FROM adj),\n"
    + ",\n".join(_kcore_iter_sql(f"s{i}", f"s{i+1}")
                 for i in range(K_CORE_ITERS))
    + f"""
SELECT d.doc_id, d.doc_id IN (SELECT v FROM s{K_CORE_ITERS}) AS in_core
FROM documents d ORDER BY doc_id
""")

QUERIES["k_core"] = k_core_query
ORACLES["k_core"] = K_CORE_SQL


# -- shortest_paths: weighted multi-source SSSP (Bellman-Ford to fixpoint) ----

SSSP_SEEDS = (0, 17)
SSSP_MAX_ITERS = 40
# The oracle unrolls the FULL Spark budget (not a "measured fixpoint +
# margin": the fixpoint round count grows with the graph, and a short
# unroll silently diverges at larger sf — caught live at sf0.1 where
# 16 rounds left 110 nodes unreached). One extra round feeds the
# error()-guarded convergence witness below, so a truncated oracle can
# never agree-on-wrong: past budget BOTH engines fail loudly.
SSSP_ORACLE_ITERS = SSSP_MAX_ITERS


def shortest_paths_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted single/multi-source shortest paths over the
    block-community graph (edge weight = 1 + (a+b) % 5, exact integer):
    synchronous Bellman-Ford relaxation run TO FIXPOINT by ``iterate``:
    the loop stops on the first round that shortens no distance
    (reaching a node shortens it from infinity), and raises if
    SSSP_MAX_ITERS rounds don't converge. Distances only decrease, so the
    frozen oracle's witness round (SSSP_ORACLE_ITERS) mirrors this stop
    rule. A python-Dijkstra reference test pins the semantics externally.

    Scale shape: per round ONE equi-join (dist ⋈ directed-adjacency) and
    one min-aggregate with map-side combine, which also flags the moved
    rows. On a cluster the upgrade is frontier-only relaxation (join only
    last round's moved rows); full relaxation keeps the oracle twin exact
    here and has the same join/shuffle shape."""
    edges = _block_edges(spark, sf_dir)
    w_of = F.lit(1) + (F.col("a") + F.col("b")) % 5
    de = (edges.select("a", "b", w_of.cast("long").alias("w"))
          .unionByName(edges.select(F.col("b").alias("a"),
                                    F.col("a").alias("b"),
                                    w_of.cast("long").alias("w"))))
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id")

    def relax(dist):
        reach = (dist.join(de, dist["v"] == de["a"])
                 .select(de["b"].alias("v"),
                         (F.col("dist") + F.col("w")).alias("dist")))
        moved = ~F.col("dist").eqNullSafe(F.col("old"))  # new or shorter
        return (dist.select("v", "dist", F.col("dist").alias("old"))
                .unionByName(reach, allowMissingColumns=True)
                .groupBy("v").agg(F.min("dist").alias("dist"),
                                  F.min("old").alias("old"))
                .select("v", "dist", moved.alias("moved")))

    seeds = (docs.filter(F.col("doc_id").isin(*SSSP_SEEDS))
             .select(F.col("doc_id").alias("v"),
                     F.lit(0).cast("long").alias("dist")))
    return iterate(relax, seeds, rounds=SSSP_MAX_ITERS,
                   fixpoint="shortest_paths", reused=(de,)).orderBy("v")


def _sssp_iter_sql(prev: str, cur: str) -> str:
    return f"""{cur} AS MATERIALIZED (
  SELECT v, min(dist) AS dist FROM (
    SELECT v, dist FROM {prev}
    UNION ALL
    SELECT de.b AS v, d.dist + de.w AS dist
    FROM {prev} d JOIN de ON de.a = d.v
  ) GROUP BY v
)"""


SHORTEST_PATHS_SQL = (
    f"WITH {_BLOCK_EDGES_CTE},\n"
    "de AS MATERIALIZED (\n"
    "  SELECT a, b, CAST(1 + (a + b) % 5 AS BIGINT) AS w FROM edges\n"
    "  UNION ALL\n"
    "  SELECT b, a, CAST(1 + (a + b) % 5 AS BIGINT) AS w FROM edges),\n"
    "d0 AS MATERIALIZED (\n"
    f"  SELECT doc_id AS v, CAST(0 AS BIGINT) AS dist FROM documents\n"
    f"  WHERE doc_id IN {SSSP_SEEDS}),\n"
    + ",\n".join(_sssp_iter_sql(f"d{i}", f"d{i+1}")
                 for i in range(SSSP_ORACLE_ITERS + 1))
    + f""",
chk AS (
  SELECT CASE WHEN
    (SELECT count(*) || '/' || sum(dist) FROM d{SSSP_ORACLE_ITERS})
    = (SELECT count(*) || '/' || sum(dist) FROM d{SSSP_ORACLE_ITERS + 1})
  THEN 1 ELSE error('shortest_paths oracle: no fixpoint within '
                    || {SSSP_ORACLE_ITERS} || ' rounds') END AS ok)
SELECT v, dist FROM d{SSSP_ORACLE_ITERS}, chk WHERE chk.ok = 1 ORDER BY v
""")

QUERIES["shortest_paths"] = shortest_paths_query
ORACLES["shortest_paths"] = SHORTEST_PATHS_SQL


# -- GraphSAGE-style neighbor feature aggregation -----------------------------
#
# The GNN data-prep primitive: every node's 1-hop neighbor embeddings
# aggregated into a mean feature vector over the block-community graph
# (embeddings align with doc ids, the rrf_fusion convention). This is
# the message-passing step sampled-subgraph trainers (GraphSAGE, PinSage)
# precompute at corpus scale — one aggregation, not a training loop.
#
# Exactness: embeddings quantize once through the shared kmeans lattice
# (`similarity._quantize_expr`), neighbor sums are exact BIGINT per
# dimension, and the mean is the truncating integer division both
# engines share (Spark `div` == DuckDB `//`) — every output is BIGINT,
# hash-exact by construction. The full 64-dim mean vector is reported
# through a weighted checksum (sum over d of mean_d · (d+1), order-free
# in exact integers) plus the first four dimensions as flat columns, so
# the oracle re-proves all 64 dims without array-stringification
# hazards in the compare.
#
# Scale shape: the adjacency explodes by 64 dims into (node, dim, val)
# and partial-aggregates per (node, dim) — map-side combine absorbs hub
# fan-out before the shuffle; the rollup to one row per node is a
# second bounded exchange. Isolated nodes keep degree 0 with NULL
# features via the left join from the node frame.

def neighbor_agg_df(docs: DataFrame, edges: DataFrame,
                    emb: DataFrame) -> DataFrame:
    from .similarity import _quantize_expr

    adj = _sym_adj(edges)
    q = emb.select(F.col("vec_id").alias("nbr"),
                   _quantize_expr("embedding").alias("q"))
    dims = (adj.join(q, "nbr")
            .select("v", F.posexplode("q").alias("d", "val"))
            .groupBy("v", "d")
            .agg(F.sum("val").alias("s"), F.count("*").alias("c")))
    per_dim = dims.select(
        "v", "d", "c", F.expr("s div c").alias("m"))
    node = per_dim.groupBy("v").agg(
        F.max(F.when(F.col("d") == 0, F.col("c"))).alias("degree"),
        F.sum(F.col("m") * (F.col("d") + 1)).alias("feat_checksum"),
        *[F.max(F.when(F.col("d") == i, F.col("m"))).alias(f"m{i}")
          for i in range(4)])
    return (docs.select(F.col("doc_id").alias("v"))
            .join(node, "v", "left")
            .select(F.col("v").alias("doc_id"),
                    F.coalesce("degree", F.lit(0)).cast("long")
                    .alias("degree"),
                    "feat_checksum", "m0", "m1", "m2", "m3"))


def neighbor_agg_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id")
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    edges = _block_edges(spark, sf_dir).persist()
    try:
        out = neighbor_agg_df(docs, edges, emb).orderBy("doc_id") \
            .localCheckpoint(eager=True)
    finally:
        edges.unpersist()
    return out


from .similarity import _QUANTIZE_CTE  # noqa: E402  (oracle twin reuse)

NEIGHBOR_AGG_SQL = f"""
WITH {_BLOCK_EDGES_CTE},
{_QUANTIZE_CTE},
adj AS (
  SELECT a AS v, b AS nbr FROM edges
  UNION ALL
  SELECT b, a FROM edges
), dims AS (
  SELECT adj.v, CAST(r.d AS INTEGER) AS d,
         CAST(sum(q[r.d + 1]) AS BIGINT) AS s,
         CAST(count(*) AS BIGINT) AS c
  FROM adj JOIN qv ON qv.vec_id = adj.nbr,
       unnest(range(0, len(q))) AS r(d)
  GROUP BY adj.v, r.d
), per_dim AS (
  SELECT v, d, c, s // c AS m FROM dims
), node AS (
  SELECT v, max(CASE WHEN d = 0 THEN c END) AS degree,
         CAST(sum(m * (d + 1)) AS BIGINT) AS feat_checksum,
         max(CASE WHEN d = 0 THEN m END) AS m0,
         max(CASE WHEN d = 1 THEN m END) AS m1,
         max(CASE WHEN d = 2 THEN m END) AS m2,
         max(CASE WHEN d = 3 THEN m END) AS m3
  FROM per_dim GROUP BY v
)
SELECT d.doc_id, CAST(coalesce(node.degree, 0) AS BIGINT) AS degree,
       feat_checksum, m0, m1, m2, m3
FROM documents d LEFT JOIN node ON node.v = d.doc_id
ORDER BY d.doc_id
"""

QUERIES["neighbor_agg"] = neighbor_agg_query
ORACLES["neighbor_agg"] = NEIGHBOR_AGG_SQL
