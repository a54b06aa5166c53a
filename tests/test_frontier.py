"""BFS frontier loop (EP1 analog) vs a pure-Python BFS oracle."""

import random
from collections import deque

import pytest

from extract_ocr_spark.frontier import bfs_frontier, extract_edges

# doc graph: d0→d1,d2; d1→d3; d2→d3,d4; d3→d5; d4→(ext); d5→d0 (cycle)
GRAPH = {
    "d0": ["d1", "d2"],
    "d1": ["d3"],
    "d2": ["d3", "d4"],
    "d3": ["d5"],
    "d4": [],
    "d5": ["d0"],
    "d6": ["d0"],  # unreachable from d0
}


def _docs_df(spark):
    rows = []
    for d, outs in GRAPH.items():
        anchors = "".join(f"<a href='doc://{o}/'>x</a>" for o in outs)
        anchors += "<a href='https://external.example/x'>ext</a>"
        html = f"<html><body><main><h1>{d}</h1>{anchors}</main></body></html>"
        rows.append((d, [("html", html, None, 0)]))
    return spark.createDataFrame(
        rows,
        "doc_id string, spans array<struct<kind:string,text:string,media_ref:string,offset:int>>",
    )


def _python_bfs(seeds, max_depth, max_pages):
    visited = {s: 0 for s in seeds}
    frontier = list(seeds)
    for depth in range(1, max_depth + 1):
        nxt = sorted({
            dst for src in frontier for dst in GRAPH.get(src, [])
            if dst not in visited
        })
        nxt = nxt[: max(0, max_pages - len(visited))]
        if not nxt:
            break
        for d in nxt:
            visited[d] = depth
        frontier = nxt
    return visited


def test_extract_edges(spark):
    edges = {(r["src"], r["dst"]) for r in extract_edges(_docs_df(spark)).collect()}
    expected = {(s, d) for s, outs in GRAPH.items() for d in outs}
    assert edges == expected


def test_bfs_matches_python_oracle(spark):
    edges = extract_edges(_docs_df(spark))
    got = {r["doc_id"]: r["depth"]
           for r in bfs_frontier(spark, edges, ["d0"], max_depth=4).collect()}
    assert got == _python_bfs(["d0"], 4, 10_000)
    assert "d6" not in got  # unreachable
    assert got["d5"] == 3   # cycle back to d0 does not re-enqueue


def test_bfs_depth_and_page_caps(spark):
    edges = extract_edges(_docs_df(spark))
    shallow = {r["doc_id"]: r["depth"]
               for r in bfs_frontier(spark, edges, ["d0"], max_depth=1).collect()}
    assert shallow == {"d0": 0, "d1": 1, "d2": 1}

    capped = bfs_frontier(spark, edges, ["d0"], max_depth=4, max_pages=4).collect()
    assert len(capped) == 4
    oracle = _python_bfs(["d0"], 4, 4)
    assert {r["doc_id"]: r["depth"] for r in capped} == oracle


# --- randomized-graph parity: seeded digraphs with self-loops, shared
# targets, multiple seeds, and tight page caps, driven through the edges
# interface directly (extract_edges has its own test above) ---


def _random_graph(seed, n=25, p=0.12):
    rng = random.Random(seed)
    nodes = [f"n{i:02d}" for i in range(n)]
    g = {u: sorted({v for v in nodes if rng.random() < p}) for u in nodes}
    return g  # self-loops allowed; lexicographic == numeric order by name


def _python_bfs_over(graph, seeds, max_depth, max_pages):
    visited = {s: 0 for s in seeds}
    frontier = list(seeds)
    for depth in range(1, max_depth + 1):
        if len(visited) >= max_pages:
            break
        nxt = sorted({
            dst for src in frontier for dst in graph.get(src, [])
            if dst not in visited
        })[: max(0, max_pages - len(visited))]
        if not nxt:
            break
        for d in nxt:
            visited[d] = depth
        frontier = nxt
    return visited


@pytest.mark.parametrize("seed,seeds,max_pages", [
    (11, ["n00", "n13"], 10_000),   # multi-seed, uncapped
    (23, ["n05"], 7),               # tight page cap mid-level
    (37, ["n21", "n02"], 12),       # cap lands exactly on a level edge
    (11, ["n00", "n13"], 10**9),    # the registry query's cap
])
def test_bfs_random_graph_parity(spark, seed, seeds, max_pages):
    graph = _random_graph(seed)
    rows = [(u, v) for u, outs in graph.items() for v in outs]
    edges = spark.createDataFrame(rows or [("x", "y")], "src string, dst string")
    got = {r["doc_id"]: r["depth"]
           for r in bfs_frontier(spark, edges, seeds,
                                 max_depth=3, max_pages=max_pages).collect()}
    assert got == _python_bfs_over(graph, seeds, 3, max_pages)


def test_pagerank_matches_python_mirror(spark, tmp_path):
    """The registry PageRank must equal a from-scratch python power
    iteration on the same synthetic graph (same dedup, same damping,
    same iteration count), rounded to the same 6 places."""
    from extract_ocr_spark.operators.links import (
        PR_D,
        PR_ITERS,
        pagerank_scores_query,
    )

    n = 37
    d = tmp_path / "documents.parquet"
    spark.createDataFrame(
        [(i, f"text {i}", "en", "s", 10) for i in range(n)],
        "doc_id long, text string, lang string, source string, n_chars long"
    ).coalesce(1).write.parquet(str(d))

    edges = sorted({(i, (2 * i + 1) % n) for i in range(n)}
                   | {(i, (3 * i + 7) % n) for i in range(n)})
    outdeg = {}
    for s, _ in edges:
        outdeg[s] = outdeg.get(s, 0) + 1
    r = {v: 1.0 / n for v in range(n)}
    for _ in range(PR_ITERS):
        incoming = {}
        for s, t in edges:
            incoming.setdefault(t, []).append((s, r[s] / outdeg[s]))
        nxt = {}
        for v in range(n):
            m = 0.0
            for _, term in sorted(incoming.get(v, [])):
                m += term
            nxt[v] = (1.0 - PR_D) / n + PR_D * m
        r = nxt

    # Spark F.round is HALF_UP; python round() is HALF_EVEN — quantize
    # the mirror with the matching mode so a future halfway value can't
    # fake a failure
    from decimal import ROUND_HALF_UP, Decimal

    def round6(x: float) -> float:
        return float(Decimal(repr(x)).quantize(
            Decimal("0.000001"), rounding=ROUND_HALF_UP))

    got = {row["doc_id"]: row["pagerank"]
           for row in pagerank_scores_query(spark, str(tmp_path)).collect()}
    assert got == {v: round6(r[v]) for v in range(n)}
    assert abs(sum(r.values()) - 1.0) < 1e-9  # rank mass conserved


def test_crawl_schedule_politeness_invariant(spark):
    """Within every host, consecutive fetches are exactly delay_s apart
    and slots are dense from 0 — the politeness contract."""
    from extract_ocr_spark.operators.links import crawl_schedule_query

    rows = crawl_schedule_query(spark, "/root/testdata/sf0.001").collect()
    by_host = {}
    for r in rows:
        by_host.setdefault(r["host"], []).append(r)
    assert len(by_host) > 1
    for host, hr in by_host.items():
        hr.sort(key=lambda r: r["slot"])
        assert [r["slot"] for r in hr] == list(range(len(hr)))
        for r in hr:
            assert r["fetch_at_s"] == r["slot"] * r["delay_s"]


def test_crawl_diff_covers_all_statuses(spark):
    """All four refresh decisions occur on the synthetic snapshots and
    partition the doc space (each doc appears exactly once)."""
    from extract_ocr_spark.operators.links import crawl_diff_query

    rows = crawl_diff_query(spark, "/root/testdata/sf0.001").collect()
    ids = [r["doc_id"] for r in rows]
    assert len(ids) == len(set(ids))
    statuses = {r["status"] for r in rows}
    assert statuses == {"added", "removed", "changed", "unchanged"}
    by = {r["doc_id"]: r["status"] for r in rows}
    assert by[10] == "added"       # %10==0, %13!=0
    assert by[13] == "removed"     # %13==0, %10!=0
    assert by[7] == "changed"      # %7==0, in both snapshots
    assert by[1] == "unchanged"
    assert 0 not in by             # %10==0 AND %13==0: in neither snapshot


def test_bloom_url_seen_invariants(spark, tmp_path):
    """Bloom membership over a corpus sized so false positives are
    statistically certain (~15% rate on 100 unseen keys; P(zero) ~ 1e-7):
    no false negatives ever (every truly-seen URL is maybe-seen), a
    nonzero but minority false-positive channel, and false_pos ==
    maybe_seen AND NOT truly_seen row-wise."""
    from extract_ocr_spark.operators.links import bloom_url_seen_query

    rows = [(i, "x", "en", "s", 1) for i in range(300)]
    d = tmp_path / "documents.parquet"
    spark.createDataFrame(
        rows,
        "doc_id long, text string, lang string, source string, n_chars long"
    ).coalesce(1).write.parquet(str(d))

    out = bloom_url_seen_query(spark, str(tmp_path)).collect()
    assert len(out) == 300
    fps = 0
    unseen = 0
    for r in out:
        assert r["false_pos"] == (r["maybe_seen"] and not r["truly_seen"])
        if r["truly_seen"]:
            assert r["maybe_seen"], r  # a bloom filter has no false negatives
        else:
            unseen += 1
            fps += bool(r["maybe_seen"])
    assert unseen == 100
    assert 0 < fps < 50, fps


def test_hits_matches_python_mirror(spark, tmp_path):
    """The registry HITS must equal a from-scratch python mutual power
    iteration on the same graph (same dedup, same sup-norm
    normalization, same iteration count), rounded to the same 6
    places. External truth: an internally-consistent Spark/DuckDB pair
    could still both compute the wrong recurrence."""
    from extract_ocr_spark.operators.links import (
        HITS_ITERS,
        hits_scores_query,
    )

    n = 41
    d = tmp_path / "documents.parquet"
    spark.createDataFrame(
        [(i, f"text {i}", "en", "s", 10) for i in range(n)],
        "doc_id long, text string, lang string, source string, n_chars long"
    ).coalesce(1).write.parquet(str(d))

    edges = sorted({(i, (2 * i + 1) % n) for i in range(n)}
                   | {(i, (3 * i + 7) % n) for i in range(n)})

    def half(prev, group_key, fold_key):
        """Sum prev scores over edges grouped by group_key index, terms
        folded in fold_key-sorted order, then sup-norm normalize."""
        incoming = {}
        for e in edges:
            incoming.setdefault(e[group_key], []).append(
                (e[fold_key], prev[e[fold_key]]))
        raw = {}
        for v in range(n):
            m = 0.0
            for _, term in sorted(incoming.get(v, [])):
                m += term
            raw[v] = m
        mx = max(raw.values())
        return {v: raw[v] / mx for v in range(n)}

    h = {v: 1.0 for v in range(n)}
    a = None
    for _ in range(HITS_ITERS):
        a = half(h, 1, 0)   # authority: group by dst, fold by src
        h = half(a, 0, 1)   # hub: group by src, fold by dst

    from decimal import ROUND_HALF_UP, Decimal

    def round6(x: float) -> float:
        return float(Decimal(repr(x)).quantize(
            Decimal("0.000001"), rounding=ROUND_HALF_UP))

    got = {row["doc_id"]: (row["hub"], row["authority"])
           for row in hits_scores_query(spark, str(tmp_path)).collect()}
    assert got == {v: (round6(h[v]), round6(a[v])) for v in range(n)}
    # sup-norm invariant: the best hub and best authority are exactly 1
    assert max(x for x, _ in got.values()) == 1.0
    assert max(y for _, y in got.values()) == 1.0


def test_hits_plan_bounded_no_python_no_cartesian(spark):
    """HITS plan contract: every half-iteration localCheckpoints, so
    the final plan is BOUNDED — it reads the checkpointed score RDDs
    (Scan ExistingRDD) instead of carrying 2·HITS_ITERS nested
    join/agg/normalize stages — and nothing in the tail drops to
    Python or a cartesian product. (The per-iteration broadcast of the
    1-row max lives inside the checkpointed segments and can't appear
    in the tail plan by construction.)"""
    from extract_ocr_spark.operators.links import hits_scores_query

    df = hits_scores_query(spark, "/root/testdata/sf0.001")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Scan ExistingRDD" in plan, plan   # checkpoint-bounded plan
    assert "CartesianProduct" not in plan, plan
    assert "Python" not in plan, plan


def test_neighbor_agg_mean_truncation_and_isolated_node(spark):
    """Hand-computed 1-hop means over a 4-node path fragment: the mean
    is the truncate-toward-zero BIGINT division (the -3200001/2 case
    separates trunc from floor), the checksum is sum(m_d * (d+1)), and
    an isolated node reports degree 0 with NULL features."""
    from extract_ocr_spark.operators.links import neighbor_agg_df

    docs = spark.createDataFrame([(i,) for i in range(4)], "doc_id long")
    edges = spark.createDataFrame([(0, 1), (1, 2)], "a long, b long")
    emb = spark.createDataFrame(
        [(0, [1.0, -3.5]), (1, [0.5, 0.25]), (2, [2.0, 0.299999])],
        "vec_id long, embedding array<double>")
    got = {r["doc_id"]: r for r in
           neighbor_agg_df(docs, edges, emb).collect()}
    # node 1 neighbors {0, 2}: q-sums (3000000, -3200001) over c=2
    # -> trunc means (1500000, -1600000); floor would give -1600001
    assert (got[1]["degree"], got[1]["m0"], got[1]["m1"]) == \
        (2, 1500000, -1600000)
    assert got[1]["feat_checksum"] == 1500000 * 1 + (-1600000) * 2
    # leaf nodes: the single neighbor's quantized vector verbatim
    assert (got[0]["m0"], got[0]["m1"]) == (500000, 250000)
    assert (got[2]["m0"], got[2]["m1"]) == (500000, 250000)
    # isolated node: in the frame, no features
    assert got[3]["degree"] == 0 and got[3]["feat_checksum"] is None


def test_neighbor_agg_plan_no_cartesian_no_python(spark):
    """The dim explode partial-aggregates before the (v, d) shuffle
    (map-side combine absorbs hub fan-out); nothing drops to Python and
    no join degrades to a cartesian."""
    from extract_ocr_spark.operators.links import (
        _block_edges, neighbor_agg_df)

    sf = "/root/testdata/sf0.001"
    docs = spark.read.parquet(f"{sf}/documents.parquet").select("doc_id")
    emb = spark.read.parquet(f"{sf}/embeddings.parquet")
    lazy = neighbor_agg_df(docs, _block_edges(spark, sf), emb)
    plan = lazy._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan, plan
    assert "Python" not in plan, plan
    assert "partial_sum" in plan or "partial" in plan.lower(), plan
