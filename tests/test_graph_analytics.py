"""Triangle counting, integer-mass PageRank, and oracled connected
components over edge lists: brute-force references on random graphs plus
cross-engine (DuckDB) gates on the SAME SQL tails the driver oracles use.
"""

import random
from collections import Counter, defaultdict
from itertools import combinations

import duckdb
import pytest

from ie_spark.pipeline.analytics import (bfs_distances, link_prediction,
                                         pagerank_mass, triangle_counts)


def _edges_df(spark, rows):
    return spark.createDataFrame([(s, "p", d) for s, d in rows],
                                 "src string, pred string, dst string")


def _vals(rows):
    return ", ".join(f"('{s}', '{d}')" for s, d in rows)


# ---------------------------------------------------------------------------
# brute-force references (pure python)
# ---------------------------------------------------------------------------


def _tri_ref(rows):
    """node -> triangle count, by enumerating all node triples."""
    und = {frozenset(p) for p in rows if p[0] != p[1]}
    nodes = sorted({n for e in und for n in e})
    cnt = Counter()
    for a, b, c in combinations(nodes, 3):
        if frozenset((a, b)) in und and frozenset((b, c)) in und \
           and frozenset((a, c)) in und:
            cnt[a] += 1
            cnt[b] += 1
            cnt[c] += 1
    return dict(cnt)


def _pr_ref(rows, iters=5, scale=10 ** 9):
    """Exact integer-mass weighted PageRank (the operator's contract)."""
    w = Counter((s, d) for s, d in rows if s != d)
    nodes = sorted({n for e in w for n in e})
    ow = Counter()
    for (s, _d), k in w.items():
        ow[s] += k
    mass = {n: scale for n in nodes}
    base = scale * 15 // 100
    for _ in range(iters):
        c = defaultdict(int)
        for (s, d), k in w.items():
            c[d] += (mass[s] * k) // ow[s]
        mass = {n: base + (85 * c.get(n, 0)) // 100 for n in nodes}
    return mass


def _cc_ref(rows):
    """node -> min-node-in-component via union-find."""
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for s, d in rows:
        if s == d:
            continue  # operators and SQL oracle drop self-loops entirely
        rs, rd = find(s), find(d)
        if rs != rd:
            parent[max(rs, rd)] = min(rs, rd)
    return {n: find(n) for n in parent}


def _random_rows(seed, multi=False):
    r = random.Random(seed)
    n = r.randint(4, 16)
    nodes = [f"n{i:02d}" for i in range(n)]
    m = r.randint(3, 50)
    rows = [(r.choice(nodes), r.choice(nodes)) for _ in range(m)]
    rows = [(a, b) for a, b in rows if a != b] or [("n00", "n01")]
    if not multi:
        rows = sorted(set(rows))
    return rows


# ---------------------------------------------------------------------------
# triangles
# ---------------------------------------------------------------------------


def test_triangle_counts_planted(spark):
    """Hand graph: one triangle + a pendant + a disconnected edge;
    direction and duplicate edges must not matter."""
    rows = [("a", "b"), ("b", "c"), ("c", "a"),   # triangle a-b-c
            ("a", "b"),                           # duplicate edge
            ("c", "d"),                           # pendant
            ("x", "y")]                           # no triangle
    out = {r["node"]: r["n_triangles"]
           for r in triangle_counts(_edges_df(spark, rows)).collect()}
    assert out == {"a": 1, "b": 1, "c": 1}


def test_triangle_counts_bruteforce_random(spark):
    """Random graphs vs the all-triples brute force (each triangle
    counted once per corner)."""
    for seed in (0, 1, 2, 3, 4):
        rows = _random_rows(seed)
        got = {r["node"]: r["n_triangles"]
               for r in triangle_counts(_edges_df(spark, rows)).collect()}
        assert got == _tri_ref(rows), f"seed={seed}"


def test_triangles_cross_engine(spark):
    """Spark output equals the driver oracle's SQL tail on the same
    planted edges (orientation tie-breaks included: equal-degree nodes)."""
    from __spark_entry__ import _triangles_sql_tail
    rows = [("a", "b"), ("b", "c"), ("c", "a"), ("c", "d"), ("d", "a"),
            ("d", "b"), ("e", "a"), ("e", "b")]  # K4-ish + equal degrees
    got = sorted((r["node"], r["n_triangles"])
                 for r in triangle_counts(_edges_df(spark, rows)).collect())
    # WITH RECURSIVE, matching the driver oracle's prefix: DuckDB UNION
    # semantics verifiably differ under it (see _pagerank_sql_tail)
    sql = (f"WITH RECURSIVE e(src, dst) AS "
           f"(SELECT * FROM (VALUES {_vals(rows)})), "
           f"{_triangles_sql_tail()}")
    want = sorted((n, int(c)) for n, c in duckdb.sql(sql).fetchall())
    assert got == want


# ---------------------------------------------------------------------------
# pagerank
# ---------------------------------------------------------------------------


def test_pagerank_exact_vs_python(spark):
    """The Spark result must equal the pure-python integer reference
    EXACTLY — that is the whole point of integer mass units."""
    for seed in (0, 1, 2):
        rows = _random_rows(seed, multi=True)
        got = {r["node"]: r["rank_mass"]
               for r in pagerank_mass(_edges_df(spark, rows),
                                      iterations=5).collect()}
        assert got == _pr_ref(rows), f"seed={seed}"


def test_pagerank_cross_engine(spark):
    """Spark equals the unrolled-CTE oracle tail bit-for-bit, duplicate
    (multiplicity) edges included."""
    from __spark_entry__ import _pagerank_sql_tail
    rows = [("a", "b"), ("a", "b"), ("a", "c"), ("b", "c"), ("c", "a"),
            ("d", "a"), ("b", "d")]
    got = sorted((r["node"], r["rank_mass"])
                 for r in pagerank_mass(_edges_df(spark, rows),
                                        iterations=5).collect())
    sql = (f"WITH RECURSIVE e(src, dst) AS "
           f"(SELECT * FROM (VALUES {_vals(rows)})), "
           f"{_pagerank_sql_tail(iterations=5)}")
    want = sorted((n, int(m)) for n, m in duckdb.sql(sql).fetchall())
    assert got == want


def test_pagerank_overflow_raises(spark):
    """scale · n_nodes · max multiplicity past int64 raises instead of
    wrapping: 3 nodes at scale 2^62 cannot fit."""
    rows = [("a", "b"), ("b", "c"), ("c", "a")]
    with pytest.raises(ValueError, match="overflow int64"):
        pagerank_mass(_edges_df(spark, rows), scale=2 ** 62)


def test_pagerank_semantics(spark):
    """Sink-heavy chain: a/b/c → s → t.  s forwards ALL its mass to the
    dangling t, so t ends highest, s second; source-only nodes keep
    exactly the base mass; total output rows = node count."""
    rows = [("a", "s"), ("b", "s"), ("c", "s"), ("s", "t")]
    out = {r["node"]: r["rank_mass"]
           for r in pagerank_mass(_edges_df(spark, rows),
                                  iterations=5).collect()}
    assert len(out) == 5
    ranked = sorted(out, key=out.get, reverse=True)
    assert ranked[:2] == ["t", "s"]
    scale = 10 ** 9
    base = scale * 15 // 100
    # a/b/c receive nothing → exactly base after every iteration
    assert out["a"] == out["b"] == out["c"] == base
    assert out["t"] > out["s"] > base


# ---------------------------------------------------------------------------
# components (oracled path)
# ---------------------------------------------------------------------------


def _chain(n):
    return [(f"c{i:02d}", f"c{i + 1:02d}") for i in range(n)]


def _cc_graphs():
    """Small dense graphs, larger sparse ones (many components) and a
    12-edge chain (diameter 12, several star rounds)."""
    graphs = [_random_rows(seed) for seed in (0, 1, 2)]
    for seed in (0, 1, 2, 3):
        r = random.Random(seed)
        nodes = [f"n{i:02d}" for i in range(r.randint(5, 28))]
        pairs = {(r.choice(nodes), r.choice(nodes))
                 for _ in range(r.randint(3, 40))}
        graphs.append(sorted((a, b) for a, b in pairs if a != b))
    return graphs + [_chain(12)]


def test_components_cross_engine_and_union_find(spark):
    """Star-contraction CC equals both the union-find reference and the
    DuckDB oracle's recursive-closure SQL tail on random graphs and on a
    long chain."""
    from __spark_entry__ import _components_sql_tail
    from ie_spark.pipeline.canonicalize import connected_components_star
    for i, rows in enumerate(_cc_graphs()):
        edges = spark.createDataFrame(rows, "src string, dst string")
        got = sorted((r["node"], r["component"])
                     for r in connected_components_star(edges).collect())
        assert got == sorted(_cc_ref(rows).items()), f"graph {i}"
        sql = (f"WITH RECURSIVE e(src, dst) AS "
               f"(SELECT * FROM (VALUES {_vals(rows)})), "
               f"{_components_sql_tail()}")
        want = sorted(duckdb.sql(sql).fetchall())
        assert got == want, f"graph {i}"


def test_components_raise_when_not_converged(spark):
    """A chain needs several star rounds; a cap below that must raise
    rather than return partial labels."""
    from ie_spark.pipeline.canonicalize import connected_components_star
    edges = spark.createDataFrame(_chain(12), "src string, dst string")
    with pytest.raises(RuntimeError, match="did not converge in 1 rounds"):
        connected_components_star(edges, max_iter=1)


def _jobs(spark, name, fn):
    sc = spark.sparkContext
    sc.setJobGroup(name, "count jobs")
    try:
        fn()
    finally:
        sc.setJobGroup("", "")
    return len(sc.statusTracker().getJobIdsForGroup(name))


def test_iterative_passes_job_budget(spark):
    """Spark jobs per call of the iterative passes, so an extra action
    per round or iteration shows up: star CC runs one convergence action
    per round, pagerank one headroom action plus the final collect.  The
    ceilings sit a few jobs above the measured counts (CC 25, pagerank
    29); the previous shapes took 77 and 45."""
    from ie_spark.pipeline.canonicalize import connected_components_star
    chain = spark.createDataFrame(_chain(12), "src string, dst string")
    n_cc = _jobs(spark, "cc_budget",
                 lambda: connected_components_star(chain).collect())
    assert 0 < n_cc <= 30, n_cc
    df = _edges_df(spark, _random_rows(0, multi=True))
    n_pr = _jobs(spark, "pagerank_budget",
                 lambda: pagerank_mass(df, iterations=5).collect())
    assert 0 < n_pr <= 34, n_pr


# ---------------------------------------------------------------------------
# link prediction
# ---------------------------------------------------------------------------


def _lp_ref(rows, max_fanout=1000, min_common=2):
    """(u, v) -> (common_neighbors, jaccard_milli) by set intersection.
    Centers above max_fanout don't count as shared neighbors; degrees in
    the Jaccard denominator still include every neighbor (the operator's
    contract)."""
    und = {frozenset(p) for p in rows if p[0] != p[1]}
    nbrs = defaultdict(set)
    for e in und:
        a, b = sorted(e)
        nbrs[a].add(b)
        nbrs[b].add(a)
    deg = {n: len(v) for n, v in nbrs.items()}
    out = {}
    for u, v in combinations(sorted(nbrs), 2):
        if frozenset((u, v)) in und:
            continue
        cn = len({m for m in nbrs[u] & nbrs[v] if deg[m] <= max_fanout})
        if cn >= min_common:
            out[(u, v)] = (cn, cn * 1000 // (deg[u] + deg[v] - cn))
    return out


def test_link_prediction_planted(spark):
    """Square a-b-c-d (no diagonal): both diagonals share 2 neighbors,
    Jaccard = 2/(2+2-2) = 1000 milli; adjacent pairs never appear."""
    rows = [("a", "b"), ("b", "c"), ("c", "d"), ("d", "a")]
    out = {(r["u"], r["v"]): (r["common_neighbors"], r["jaccard_milli"])
           for r in link_prediction(_edges_df(spark, rows)).collect()}
    assert out == {("a", "c"): (2, 1000), ("b", "d"): (2, 1000)}


def test_link_prediction_bruteforce_random(spark):
    for seed in (0, 1, 2, 3):
        rows = _random_rows(seed)
        got = {(r["u"], r["v"]): (r["common_neighbors"], r["jaccard_milli"])
               for r in link_prediction(_edges_df(spark, rows),
                                        min_common=1).collect()}
        assert got == _lp_ref(rows, min_common=1), f"seed={seed}"


def test_link_prediction_hub_cap_cross_engine(spark):
    """The hub cap must BIND (the KG corpus never exercises it): center
    h connects 4 spokes (degree 4 > max_fanout 3), so pairs sharing only
    h disappear; pairs also sharing low-degree centers survive with h
    removed from their count.  Spark and the driver oracle's SQL tail
    must agree on the capped output."""
    from __spark_entry__ import _link_pred_sql_tail
    rows = [("h", "s1"), ("h", "s2"), ("h", "s3"), ("h", "s4"),
            ("s1", "m"), ("s2", "m"),          # s1-s2 also share center m
            ("s1", "k"), ("s2", "k")]          # ... and center k
    got = sorted((r["u"], r["v"], r["common_neighbors"], r["jaccard_milli"])
                 for r in link_prediction(_edges_df(spark, rows),
                                          max_fanout=3,
                                          min_common=1).collect())
    # pairs sharing ONLY the hub h as a center are gone entirely
    pairs = {(u, v) for u, v, *_ in got}
    assert pairs == {("h", "k"), ("h", "m"), ("k", "m"), ("s1", "s2")}
    assert not pairs & {("s3", "s4"), ("s1", "s3"), ("s1", "s4"),
                        ("s2", "s3"), ("s2", "s4")}
    cn = {(u, v): c for u, v, c, _ in got}
    # (s1, s2) counts centers m and k but NOT the capped hub h
    assert cn[("s1", "s2")] == 2 and cn[("k", "m")] == 2
    sql = (f"WITH RECURSIVE e(src, dst) AS "
           f"(SELECT * FROM (VALUES {_vals(rows)})), "
           f"{_link_pred_sql_tail(max_fanout=3, min_common=1)}")
    want = sorted((u, v, int(c), int(j))
                  for u, v, c, j in duckdb.sql(sql).fetchall())
    assert got == want


# ---------------------------------------------------------------------------
# BFS distances
# ---------------------------------------------------------------------------


def _bfs_ref(rows, max_depth=4):
    und = {frozenset(p) for p in rows if p[0] != p[1]}
    nbrs = defaultdict(set)
    for e in und:
        a, b = sorted(e)
        nbrs[a].add(b)
        nbrs[b].add(a)
    seed = min(nbrs)
    dist, frontier = {seed: 0}, {seed}
    for d in range(1, max_depth + 1):
        frontier = {x for f in frontier for x in nbrs[f]} - set(dist)
        for x in frontier:
            dist[x] = d
    return dist


def test_bfs_distances_chain_cap_binds(spark):
    """Chain a-b-c-d-e-f-g: seed is 'a' (min id); f (5 hops) and g
    (6 hops) lie beyond the depth cap of 4 and must be ABSENT from the
    output — reached-only semantics, no NULL-distance rows."""
    rows = [("a", "b"), ("b", "c"), ("c", "d"), ("d", "e"),
            ("e", "f"), ("f", "g")]
    out = {r["node"]: r["dist"]
           for r in bfs_distances(_edges_df(spark, rows)).collect()}
    assert out == {"a": 0, "b": 1, "c": 2, "d": 3, "e": 4}


def test_bfs_distances_bruteforce_random(spark):
    for seed in (0, 1, 2, 3):
        rows = _random_rows(seed)
        got = {r["node"]: r["dist"]
               for r in bfs_distances(_edges_df(spark, rows)).collect()}
        assert got == _bfs_ref(rows), f"seed={seed}"


def test_bfs_cross_engine(spark):
    """Spark frontier iteration equals the depth-capped recursive-CTE
    oracle tail, including on a graph with multiple shortest paths and
    a disconnected island (absent from both outputs)."""
    from __spark_entry__ import _bfs_sql_tail
    rows = [("a", "b"), ("a", "c"), ("b", "d"), ("c", "d"), ("d", "e"),
            ("x", "y")]
    got = sorted((r["node"], r["dist"])
                 for r in bfs_distances(_edges_df(spark, rows)).collect())
    sql = (f"WITH RECURSIVE e(src, dst) AS "
           f"(SELECT * FROM (VALUES {_vals(rows)})), "
           f"{_bfs_sql_tail(max_depth=4)}")
    want = sorted((n, int(d)) for n, d in duckdb.sql(sql).fetchall())
    assert got == want
    assert ("x", 0) not in got and ("y", 1) not in got


# ---------------------------------------------------------------------------
# plan shape
# ---------------------------------------------------------------------------


def test_graph_analytics_plans_no_nested_loop(spark):
    """All three operators must stay equi-join shaped: the triangle
    closing join keys on (least, greatest) expressions, every pagerank
    join keys on a node id, and the star contraction's final output reads
    only the converged star forest (its per-round windows execute inside
    the loop) — a nested-loop anywhere is a 10^12-scale regression."""
    from ie_spark.pipeline.canonicalize import connected_components_star
    rows = [("a", "b"), ("b", "c"), ("c", "a"), ("c", "d")]
    df = _edges_df(spark, rows)
    for out in (triangle_counts(df),
                pagerank_mass(df, iterations=2),
                connected_components_star(df.select("src", "dst")),
                link_prediction(df, min_common=1),
                bfs_distances(df, max_depth=2)):
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan


def test_pagerank_plan_size_constant_in_iterations(spark):
    """Lazy local checkpoints must truncate lineage: the compiled plan
    string for 6 iterations stays within ~2x of the 3-iteration plan
    (without truncation it grows geometrically)."""
    rows = [("a", "b"), ("b", "c"), ("c", "a")]
    df = _edges_df(spark, rows)
    p3 = len(pagerank_mass(df, iterations=3)
             ._jdf.queryExecution().executedPlan().toString())
    p6 = len(pagerank_mass(df, iterations=6)
             ._jdf.queryExecution().executedPlan().toString())
    assert p6 <= 2 * p3, (p3, p6)


# ---------------------------------------------------------------------------
# batch job orchestration
# ---------------------------------------------------------------------------


def test_run_graph_analytics_job(spark, tmp_path):
    """The batch job writes one parquet dir per selected pass with the
    same rows the operators produce, reports rows/sec per pass, and
    rejects unknown pass names."""
    from ie_spark.pipeline.analytics import run_graph_analytics

    rows = [("a", "b"), ("a", "b"), ("b", "c"), ("c", "a"), ("c", "d")]
    edges = _edges_df(spark, rows)
    out = str(tmp_path / "ga")
    stats = run_graph_analytics(spark, edges, out,
                                passes=["degree", "triangles", "pagerank"],
                                iterations=3)
    assert set(stats["passes"]) == {"degree", "triangles", "pagerank"}
    got_pr = {r["node"]: r["rank_mass"] for r in
              spark.read.parquet(out + "/pagerank").collect()}
    assert got_pr == _pr_ref(rows, iters=3)
    got_tri = {r["node"]: r["n_triangles"] for r in
               spark.read.parquet(out + "/triangles").collect()}
    assert got_tri == _tri_ref(rows)
    assert stats["passes"]["degree"]["rows"] == 4
    assert all(p["sec"] >= 0 for p in stats["passes"].values())

    with pytest.raises(ValueError, match="unknown passes"):
        run_graph_analytics(spark, edges, out, passes=["nope"])


def test_bfs_empty_and_self_loop_graphs(spark):
    """Edge-free / all-self-loop inputs must yield an EMPTY result (no
    phantom NULL-seed row), on both engines."""
    from __spark_entry__ import _bfs_sql_tail
    rows = [("a", "a"), ("b", "b")]
    assert bfs_distances(_edges_df(spark, rows)).count() == 0
    sql = (f"WITH RECURSIVE e(src, dst) AS "
           f"(SELECT * FROM (VALUES {_vals(rows)})), "
           f"{_bfs_sql_tail(max_depth=4)}")
    assert duckdb.sql(sql).fetchall() == []
