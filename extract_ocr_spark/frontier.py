"""BFS crawl frontier as an iterative DataFrame driver loop.

The reference's crawl loop (EP1, crawl.py:920-1137) is a single-threaded
queue: pop url → fetch → extract links → enqueue unseen. The Spark-native
restructuring: the frontier is a DataFrame of (doc_id, depth); each
iteration extracts links from the *whole frontier in parallel*, normalizes
them, anti-joins against the visited set (the done/failed skip,
crawl.py:938-939), applies the depth/page caps (crawl.py:937, 1060), and
becomes the next frontier. Control crosses the driver boundary once per
depth level — the only driver-side state is loop bookkeeping, never data.

Works over any corpus table carrying extractable links; here the link
graph lives in HTML spans, extracted with the same kernel as the
extraction pipeline (E1).
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .kernels.htmlkit import extract_links

_LINKS_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.StringType()),
        T.StructField("links", T.ArrayType(T.StringType())),
    ]
)


def extract_edges(docs: DataFrame) -> DataFrame:
    """(doc_id, spans) → (src, dst) edge list: links from every HTML span,
    kernel-extracted, with doc://-addressed targets kept."""

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, links = [], []
            for d, spans in zip(pdf["doc_id"], pdf["spans"]):
                out: list[str] = []
                for s in (list(spans) if spans is not None else []):
                    if (s.get("kind") or "") == "html" and s.get("text"):
                        out.extend(extract_links(
                            s["text"], page_url=f"doc://{d}/"))
                ids.append(d)
                links.append(out)
            yield pd.DataFrame({"doc_id": ids, "links": links})

    edges = docs.select("doc_id", "spans").mapInPandas(fn, schema=_LINKS_SCHEMA)
    return (
        edges.select(F.col("doc_id").alias("src"),
                     F.explode("links").alias("url"))
        .filter(F.col("url").startswith("doc://"))
        .select("src", F.regexp_extract("url", r"doc://([^/]+)", 1).alias("dst"))
        .filter(F.col("dst") != "")
    )


def bfs_frontier(spark: SparkSession, edges: DataFrame, seeds: list[str],
                 *, max_depth: int = 3, max_pages: int = 10_000) -> DataFrame:
    """Distributed BFS over an edge list: returns (doc_id, depth) of every
    visited doc (first-seen depth), honoring depth and page caps."""
    visited = spark.createDataFrame(
        [(s, 0) for s in seeds], "doc_id string, depth int")
    frontier = visited
    edges = edges.cache()
    # Track the visited size as a driver counter: each level's additions
    # are known exactly (nxt is checkpointed), so no per-level recount of
    # the growing uncached union.
    n_visited = len(seeds)
    for depth in range(1, max_depth + 1):
        if n_visited >= max_pages:
            break
        nxt = (
            frontier.join(edges, frontier.doc_id == edges.src)
            .select(F.col("dst").alias("doc_id"))
            .distinct()
            # the done-set skip (anti-join resume pattern)
            .join(visited.select("doc_id"), "doc_id", "left_anti")
            .withColumn("depth", F.lit(depth))
        )
        # Materialize per level: each iteration's lineage is durable and
        # the plan doesn't grow unboundedly across iterations.
        nxt = nxt.localCheckpoint(eager=True)
        n_new = nxt.count()  # counts the checkpointed level, not the union
        if n_new == 0:
            break
        if n_visited + n_new > max_pages:
            # Page cap, only when it binds (Spark's top-k allocates a queue
            # of the limit's size up front, so the registry's 10**9 cap
            # cost gigabytes per level); lowest doc_id admitted first.
            n_new = max_pages - n_visited
            nxt = (nxt.orderBy("doc_id").limit(n_new)
                   .localCheckpoint(eager=True))
        n_visited += n_new
        visited = visited.unionByName(nxt)
        frontier = nxt
    # Every leg of `visited` is an eagerly-checkpointed level (or the tiny
    # seed frame), so the cached edge table is no longer referenced.
    edges.unpersist()
    return visited.orderBy("depth", "doc_id")
