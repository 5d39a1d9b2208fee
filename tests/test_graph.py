"""Connected components / dedup clusters (operators/graph.py): parity with
a driver-side union-find on random graphs, the pathological chain case
(worst case for naive label propagation), and singleton handling."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from patternly_spark import plans
from patternly_spark.operators.graph import connected_components, dedup_clusters


def _uf(n_nodes, edges):
    parent = list(range(n_nodes))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for u, v in edges:
        ru, rv = find(u), find(v)
        if ru != rv:
            parent[max(ru, rv)] = min(ru, rv)
    out = {}
    comp = {}
    for i in range(n_nodes):
        comp.setdefault(find(i), []).append(i)
    for members in comp.values():
        m = min(members)
        for x in members:
            out[x] = m
    return out


@pytest.mark.parametrize("seed,n_edges", [(0, 60), (1, 150), (2, 300)])
def test_connected_components_matches_union_find(spark, seed, n_edges, both_paths):
    rng = np.random.default_rng(seed)
    n = 120
    edges = [
        (int(rng.integers(n)), int(rng.integers(n))) for _ in range(n_edges)
    ]
    edges = [(u, v) for u, v in edges if u != v]
    df = spark.createDataFrame(edges, "src long, dst long")
    want = _uf(n, edges)
    touched = {u for e in edges for u in e}
    for path in both_paths("TASK_BUDGET_BYTES"):
        got = {r.node: r.component for r in connected_components(df).collect()}
        assert got == {k: v for k, v in want.items() if k in touched}, path


def test_connected_components_chain(spark, both_paths):
    # a path graph is the worst case for label propagation (O(n) rounds);
    # the star sequence must still converge in O(log n)
    chain = [(i, i + 1) for i in range(300)]
    df = spark.createDataFrame(chain, "src long, dst long")
    for path in both_paths("TASK_BUDGET_BYTES"):
        got = {r.node: r.component for r in connected_components(df).collect()}
        assert len(got) == 301 and set(got.values()) == {0}, path


def test_dedup_clusters_singletons_and_canonicals(spark, both_paths):
    pairs = spark.createDataFrame(
        [(1, 2), (2, 5), (7, 8)], "doc_a long, doc_b long"
    )
    docs = spark.createDataFrame([(i,) for i in range(10)], "doc_id long")
    for path in both_paths("TASK_BUDGET_BYTES"):
        out = dedup_clusters(pairs, docs=docs).toPandas().sort_values("doc_id")
        by_id = dict(zip(out.doc_id, out.cluster_id))
        assert by_id[1] == by_id[2] == by_id[5] == 1, path
        assert by_id[7] == by_id[8] == 7, path
        for single in (0, 3, 4, 6, 9):
            assert by_id[single] == single, path
        canon = set(out[out.is_canonical].doc_id)
        assert canon == {0, 1, 3, 4, 6, 7, 9}, path


def test_connected_components_empty_edges(spark, both_paths):
    df = spark.createDataFrame([], "src long, dst long")
    docs = spark.createDataFrame([(i,) for i in range(4)], "doc_id long")
    empty_pairs = spark.createDataFrame([], "doc_a long, doc_b long")
    for path in both_paths("TASK_BUDGET_BYTES"):
        assert connected_components(df).count() == 0, path
        out = dedup_clusters(empty_pairs, docs=docs).toPandas()
        assert (out.doc_id == out.cluster_id).all() and out.is_canonical.all(), path


def test_pagerank_cycle_is_uniform(spark):
    from patternly_spark.operators.graph import pagerank

    # 5-cycle: stationary distribution is exactly uniform at every iteration
    edges = spark.createDataFrame([(i, (i + 1) % 5) for i in range(5)], "src long, dst long")
    ranks = {r["node"]: r["rank"] for r in pagerank(edges, iterations=5).collect()}
    assert all(abs(v - 0.2) < 1e-12 for v in ranks.values())
    assert abs(sum(ranks.values()) - 1.0) < 1e-9


def test_pagerank_star_hub_dominates_and_mass_conserved(spark):
    from patternly_spark.operators.graph import pagerank

    # 4 leaves -> hub; hub is dangling (mass redistributed uniformly)
    edges = spark.createDataFrame([(i, 0) for i in range(1, 5)], "src long, dst long")
    ranks = {r["node"]: r["rank"] for r in pagerank(edges, iterations=20).collect()}
    assert abs(sum(ranks.values()) - 1.0) < 1e-9
    leaf = ranks[1]
    assert all(abs(ranks[i] - leaf) < 1e-12 for i in range(2, 5))
    assert ranks[0] > 3 * leaf  # hub gathers the lion's share


def test_pagerank_matches_numpy_power_iteration(spark):
    import numpy as np
    from patternly_spark.operators.graph import pagerank

    rng = np.random.default_rng(5)
    n, m = 12, 40
    pairs = {(int(a), int(b)) for a, b in rng.integers(0, n, size=(m, 2)) if a != b}
    edges = spark.createDataFrame(sorted(pairs), "src long, dst long")
    got = {r["node"]: r["rank"] for r in pagerank(edges, iterations=15).collect()}

    nodes = sorted({u for e in pairs for u in e})
    idx = {u: i in range(len(nodes)) for i, u in enumerate(nodes)}  # overwritten below
    idx = {u: i for i, u in enumerate(nodes)}
    N = len(nodes)
    deg = np.zeros(N)
    for a, _ in pairs:
        deg[idx[a]] += 1
    r = np.full(N, 1.0 / N)
    d = 0.85
    for _ in range(15):
        nxt = np.zeros(N)
        for a, b in pairs:
            nxt[idx[b]] += r[idx[a]] / deg[idx[a]]
        dangling = r[deg == 0].sum()
        r = (1 - d) / N + d * dangling / N + d * nxt
    for u in nodes:
        assert abs(got[u] - r[idx[u]]) < 1e-9, u


def test_label_propagation_two_triangles(spark):
    from patternly_spark.operators.graph import label_propagation

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3), (4, 5), (5, 6), (4, 6), (3, 4)],
        "src long, dst long",
    )
    out = {r.node: r.label for r in label_propagation(edges, iterations=3).collect()}
    # hand-computed synchronous rounds: triangle {1,2,3} converges to
    # label 1, triangle {4,5,6} to label 3 (the bridge pulls 3's id over)
    assert out == {1: 1, 2: 1, 3: 1, 4: 3, 5: 3, 6: 3}


def test_label_propagation_isolated_and_deterministic(spark):
    from pyspark.sql import functions as F

    from patternly_spark.operators.graph import label_propagation

    edges = spark.createDataFrame(
        [(10, 11), (11, 12), (20, 21)], "src long, dst long"
    )
    a = {r.node: r.label for r in label_propagation(edges, iterations=4).collect()}
    b = {
        r.node: r.label
        for r in label_propagation(edges.repartition(7), iterations=4).collect()
    }
    assert a == b  # partitioning-invariant
    # the two components never mix
    assert {a[20], a[21]} <= {20, 21} and {a[10], a[11], a[12]} <= {10, 11, 12}


def test_triangle_counts_match_bruteforce(spark):
    """Random graph + planted 5-clique + self-loops + reversed duplicate
    edges: per-node (degree, triangles, clustering) must equal the
    brute-force census exactly."""
    import itertools
    import random

    from patternly_spark.operators.graph import triangle_counts

    random.seed(5)
    edges = set()
    for _ in range(200):
        a, b = random.sample(range(40), 2)
        edges.add((a, b))
    for a, b in itertools.combinations([0, 1, 2, 3, 4], 2):
        edges.add((a, b))
    el = list(edges) + [(7, 7), (3, 2)]
    df = spark.createDataFrame(el, "src long, dst long")
    res = {r.node: (r.degree, r.triangles, r.clustering) for r in triangle_counts(df).collect()}

    und = {tuple(sorted(e)) for e in edges if e[0] != e[1]}
    adj: dict = {}
    for a, b in und:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    tri = {n: 0 for n in adj}
    for a, b, c in itertools.combinations(sorted(adj), 3):
        if b in adj[a] and c in adj[a] and c in adj[b]:
            tri[a] += 1
            tri[b] += 1
            tri[c] += 1
    assert set(res) == set(adj)
    for n in adj:
        d = len(adj[n])
        cl = 2.0 * tri[n] / (d * (d - 1)) if d >= 2 else 0.0
        assert res[n] == (d, tri[n], cl), n


def test_triangle_counts_hub_star_has_none(spark):
    """A pure star (hub + leaves) has zero triangles and zero clustering
    everywhere — the skew shape the degree ordering exists for."""
    from patternly_spark.operators.graph import triangle_counts

    df = spark.createDataFrame([(0, i) for i in range(1, 50)], "src long, dst long")
    rows = triangle_counts(df).collect()
    assert all(r.triangles == 0 and r.clustering == 0.0 for r in rows)
    hub = [r for r in rows if r.node == 0][0]
    assert hub.degree == 49


def test_triangle_counts_clique_is_fully_clustered(spark):
    import itertools

    from patternly_spark.operators.graph import triangle_counts

    df = spark.createDataFrame(
        [e for e in itertools.combinations(range(6), 2)], "src long, dst long"
    )
    rows = triangle_counts(df).collect()
    # K6: each node in C(5,2)=10 triangles, clustering 1.0
    assert all(r.degree == 5 and r.triangles == 10 and r.clustering == 1.0 for r in rows)


def test_kcore_peels_to_clique(spark):
    """K5 + chain + star at k=3: only the clique survives, with in-core
    degrees; k=1 keeps every non-isolated node at its full degree."""
    import collections
    import itertools

    from patternly_spark.operators.graph import kcore

    edges = list(itertools.combinations(range(5), 2))
    edges += [(5, 6), (6, 7), (7, 8), (4, 5)]
    edges += [(0, i) for i in range(9, 15)]
    df = spark.createDataFrame(edges, "src long, dst long")
    assert {r.node: r.core_degree for r in kcore(df, 3).collect()} == {
        i: 4 for i in range(5)
    }
    adj = collections.defaultdict(set)
    for u, v in edges:
        adj[u].add(v)
        adj[v].add(u)
    assert {r.node: r.core_degree for r in kcore(df, 1).collect()} == {
        n: len(s) for n, s in adj.items()
    }
    # k above the degeneracy: empty core
    assert kcore(df, 7).count() == 0


def test_kcore_raises_on_nonconvergence(spark):
    """A path graph peels one endpoint pair per round (~n/2 rounds); an
    exhausted max_rounds must raise, never return under-k nodes as core
    members."""
    import pytest

    from patternly_spark.operators.graph import kcore

    path = spark.createDataFrame(
        [(i, i + 1) for i in range(9)], "src long, dst long"
    )
    with pytest.raises(RuntimeError, match="did not converge"):
        kcore(path, 2, max_rounds=2)
    # converging ON the final round is fine (4-node path at k=2 empties
    # in exactly 2 peel rounds — the post-loop re-verify must accept it)
    short = spark.createDataFrame(
        [(0, 1), (1, 2), (2, 3)], "src long, dst long"
    )
    assert kcore(short, 2, max_rounds=2).count() == 0


def test_kcore_matches_python_peel_random(spark):
    import collections
    import random

    from patternly_spark.operators.graph import kcore

    random.seed(9)
    edges = {tuple(sorted(random.sample(range(60), 2))) for _ in range(300)}
    df = spark.createDataFrame(sorted(edges), "src long, dst long")
    for k in [2, 4, 6]:
        got = {r.node: r.core_degree for r in kcore(df, k).collect()}
        adj = collections.defaultdict(set)
        for u, v in edges:
            adj[u].add(v)
            adj[v].add(u)
        a = {n: set(s) for n, s in adj.items()}
        while True:
            bad = {n for n, s in a.items() if len(s) < k}
            if not bad:
                break
            a = {n: {m for m in s if m not in bad} for n, s in a.items() if n not in bad}
        assert got == {n: len(s) for n, s in a.items() if s}, k


def test_q180_oracle_round_budget_covers_convergence():
    """The unrolled 12-round SQL oracle must be PAST the peel's
    convergence at the oracle's scale — otherwise the oracle would pin a
    truncated (wrong) core.  Replays the peel in python at sf0.01."""
    import collections

    import duckdb

    edges = duckdb.sql(
        """
        SELECT u, v FROM (
          SELECT LEAST(a.l_partkey,b.l_partkey) u,
                 GREATEST(a.l_partkey,b.l_partkey) v, COUNT(*) c
          FROM '/root/testdata/sf0.01/lineitem.parquet' a
          JOIN '/root/testdata/sf0.01/lineitem.parquet' b
            ON a.l_orderkey=b.l_orderkey AND a.l_partkey<b.l_partkey
          GROUP BY 1,2) WHERE c >= 2
        """
    ).fetchall()
    adj = collections.defaultdict(set)
    for u, v in edges:
        adj[u].add(v)
        adj[v].add(u)
    a = {n: set(s) for n, s in adj.items()}
    rounds = 0
    while True:
        bad = {n for n, s in a.items() if len(s) < 3}
        if not bad:
            break
        rounds += 1
        a = {n: {m for m in s if m not in bad} for n, s in a.items() if n not in bad}
    assert rounds <= 12, f"oracle unrolls 12 rounds but peel needs {rounds}"


def test_graph_census_operators_handle_empty_input(spark):
    from patternly_spark.operators.graph import kcore, triangle_counts

    edges = spark.createDataFrame([], "src long, dst long")
    assert triangle_counts(edges).count() == 0
    assert kcore(edges, 2).count() == 0


def test_core_numbers_match_bruteforce_peel(spark, both_paths):
    """h-index fixpoint == increasing-k peel core numbers on a random
    graph with a planted 6-clique (core 5) and degree-1 pendants."""
    import collections
    import itertools
    import random

    from patternly_spark.operators.graph import core_numbers

    random.seed(8)
    edges = {tuple(sorted(random.sample(range(50), 2))) for _ in range(260)}
    edges |= set(itertools.combinations(range(6), 2))
    edges |= {(0, 100), (100, 101)}  # pendant chain: cores 1
    df = spark.createDataFrame(sorted(edges), "src long, dst long")

    adj = collections.defaultdict(set)
    for u, v in edges:
        adj[u].add(v)
        adj[v].add(u)
    core = {}
    a = {n: set(s) for n, s in adj.items()}
    k = 0
    while a:
        k += 1
        while True:
            bad = {n for n, s in a.items() if len(s) < k}
            if not bad:
                break
            for n in bad:
                core[n] = k - 1
                for m in a[n]:
                    a[m].discard(n)
                del a[n]
    for path in both_paths("TASK_BUDGET_BYTES"):
        got = {r.node: r.core for r in core_numbers(df).collect()}
        assert got == core, path
        assert got[100] == 1 and got[101] == 1, path
        assert all(got[n] >= 5 for n in range(6)), path


def test_core_numbers_consistent_with_kcore(spark, both_paths):
    """Membership law: kcore(k) nodes == nodes with core number >= k."""
    import random

    from patternly_spark.operators.graph import core_numbers, kcore

    random.seed(12)
    edges = {tuple(sorted(random.sample(range(40), 2))) for _ in range(200)}
    df = spark.createDataFrame(sorted(edges), "src long, dst long")
    in_kcore = {k: {r.node for r in kcore(df, k).collect()} for k in [1, 2, 3, 4]}
    for path in both_paths("TASK_BUDGET_BYTES"):
        cores = {r.node: r.core for r in core_numbers(df).collect()}
        for k in [1, 2, 3, 4]:
            assert in_kcore[k] == {n for n, c in cores.items() if c >= k}, (k, path)


def test_msf_matches_kruskal_exactly(spark):
    """Under the total edge order (w, u, v) the minimum spanning forest
    is UNIQUE, so Boruvka's edge set must equal Kruskal's exactly —
    duplicate weights included; forest size is n - components."""
    import random

    from patternly_spark.operators.graph import minimum_spanning_forest

    rng = random.Random(41)
    edges = {}
    for _ in range(120):
        u, v = sorted(rng.sample(range(40), 2))
        # duplicate weights on purpose (coarse grid)
        edges[(u, v)] = rng.choice([1.0, 2.0, 3.0, 5.0, 8.0])
    # two disconnected islands: nodes 100-104 ring
    for i in range(5):
        edges[(100 + i, 100 + (i + 1) % 5)] = float(i + 1)
    rows = [(u, v, w) for (u, v), w in edges.items()]
    df = spark.createDataFrame(rows, "src long, dst long, weight double")

    got = {(r.u, r.v, r.weight) for r in minimum_spanning_forest(df).collect()}

    # Kruskal under the same total order
    parent = {}

    def find(x):
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    want = set()
    for (u, v), w in sorted(edges.items(), key=lambda kv: (kv[1], kv[0])):
        ru, rv = find(u), find(v)
        if ru != rv:
            parent[ru] = rv
            want.add((u, v, w))
    assert got == want
    nodes = {n for uv in edges for n in uv}
    comps = len({find(n) for n in nodes})
    assert len(got) == len(nodes) - comps


def test_msf_budget_mode_returns_true_partial_forest(spark):
    """strict=False with a round budget returns a PARTIAL forest instead
    of raising — and every returned edge is a true MSF edge (Boruvka
    never retracts a selection), so the budgeted bench variant measures
    real work."""
    import pytest

    from patternly_spark.operators.graph import minimum_spanning_forest

    # alternating light/heavy path: round 1 merges the light pairs only,
    # the heavy connectors need round 2 — guaranteeing a partial forest
    rows = [
        (i, i + 1, 1.0 + i / 100.0 if i % 2 == 0 else 100.0 + i)
        for i in range(32)
    ]
    df = spark.createDataFrame(rows, "src long, dst long, weight double")
    full = {(r.u, r.v, r.weight) for r in minimum_spanning_forest(df).collect()}

    partial = {
        (r.u, r.v, r.weight)
        for r in minimum_spanning_forest(df, max_rounds=1, strict=False).collect()
    }
    assert partial and partial < full  # non-empty strict subset after 1 round

    with pytest.raises(RuntimeError, match="did not converge"):
        minimum_spanning_forest(df, max_rounds=1)


def test_msf_single_linkage_threshold_cut(spark):
    """Cutting the forest at a distance threshold yields the
    single-linkage clusters: two tight pair-groups bridged only by a
    heavy edge separate when the cut drops it."""
    from patternly_spark.operators.graph import (
        connected_components,
        minimum_spanning_forest,
    )

    rows = [
        (1, 2, 0.1), (2, 3, 0.2),          # cluster A
        (10, 11, 0.1), (11, 12, 0.3),      # cluster B
        (3, 10, 9.0),                      # bridge
    ]
    df = spark.createDataFrame(rows, "src long, dst long, weight double")
    msf = minimum_spanning_forest(df)
    cut = msf.filter(F.col("weight") < 1.0).select(
        F.col("u").alias("src"), F.col("v").alias("dst")
    )
    comps = {r.node: r.component for r in connected_components(cut).collect()}
    assert comps[1] == comps[2] == comps[3]
    assert comps[10] == comps[11] == comps[12]
    assert comps[1] != comps[10]


def _support_graph(spark):
    # a weighted graph with ties, multi-edges, and several components:
    # exercises the (w, u, v) tie-break and the min-id merge labels
    rows = [
        (1, 2, 1.0), (2, 3, 1.0), (1, 3, 2.0), (3, 4, 0.5), (4, 5, 0.5),
        (5, 1, 3.0), (6, 7, 1.5), (7, 8, 1.5), (6, 8, 1.5), (9, 10, 0.1),
        (2, 1, 9.0),  # reversed duplicate, heavier — must lose to min(w)
        (11, 12, 4.0), (12, 13, 4.0), (13, 11, 4.0), (13, 14, 4.0),
    ]
    return spark.createDataFrame(rows, "src long, dst long, weight double")


def _forest_rows(df):
    return sorted(tuple(r) for r in df.select("u", "v", "weight").collect())


def test_msf_local_merge_matches_distributed(spark, both_paths, monkeypatch):
    """The driver merge (``collect_within`` + ``_cc_kernel``) and the
    distributed CC merge give the same forest."""
    from patternly_spark.operators import graph
    from patternly_spark.operators.graph import minimum_spanning_forest

    g = _support_graph(spark)
    got = {path: _forest_rows(minimum_spanning_forest(g)) for path in both_paths("DRIVER_BUDGET_BYTES")}
    # a driver budget of ~10 merge rows: round 1 collects its 9 selected
    # edges, where its 14 crossing edges would not have fit
    monkeypatch.setattr(plans, "DRIVER_BUDGET_BYTES", 10.5 * graph.MSF_MERGE_ROW_BYTES)
    got["selected edges only"] = _forest_rows(minimum_spanning_forest(g))
    assert got["in-budget"] == got["distributed"] == got["selected edges only"]
    # spanning-forest shape: n - c edges (14 nodes, 4 components:
    # {1..5}, {6,7,8}, {9,10}, {11..14})
    assert len(got["in-budget"]) == 14 - 4


def test_msf_strict_false_budget_path(spark):
    from patternly_spark.operators.graph import minimum_spanning_forest

    g = _support_graph(spark)
    partial = minimum_spanning_forest(g, max_rounds=1, strict=False)
    full = minimum_spanning_forest(g)
    # Boruvka never retracts: the 1-round partial forest is a subset
    got = set(_forest_rows(partial))
    want = set(_forest_rows(full))
    assert got <= want
    assert len(got) >= 1


def test_personalized_pagerank_integer_replay(spark):
    """The unit fixpoint equals a plain-Python integer replay exactly
    (integral div, restart at every seed each round, dangling seeds
    keep restart mass)."""
    from patternly_spark.operators.graph import personalized_pagerank_units

    edges = [(1, 10), (1, 11), (2, 10), (10, 11), (3, 12)]
    seeds = [1, 2, 7]  # 7 is dangling (no out-edges, not even a node)
    ef = spark.createDataFrame(edges, "src long, dst long")
    sf_ = spark.createDataFrame([(s,) for s in seeds], "node long")
    got = {
        r.node: r.ppr_units
        for r in personalized_pagerank_units(ef, sf_, iterations=3).collect()
    }

    U, an, ad = 1 << 30, 1, 2
    restart = (U * (ad - an)) // ad
    from collections import defaultdict

    deg = defaultdict(int)
    for s, _ in edges:
        deg[s] += 1
    p = {s: U for s in seeds}
    for _ in range(3):
        nxt = defaultdict(int)
        for s in seeds:
            nxt[s] += restart
        for s, d in edges:
            if s in p:
                nxt[d] += (p[s] * an) // (ad * deg[s])
        p = {k: v for k, v in nxt.items() if v > 0}
    assert got == p


def test_bfs_hops_path_graph(spark, both_paths):
    from patternly_spark.operators.graph import bfs_hops

    # path 1-2-3-4-5-6; source 1, max_hops 3 -> nodes 1..4
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(1, 6)], "src long, dst long"
    )
    srcs = spark.createDataFrame([(1,)], "node long")
    for path in both_paths("TASK_BUDGET_BYTES"):
        out = {r["node"]: r["hops"] for r in bfs_hops(edges, srcs, max_hops=3).collect()}
        assert out == {1: 0, 2: 1, 3: 2, 4: 3}, path


def test_bfs_hops_directed_vs_undirected(spark, both_paths):
    from patternly_spark.operators.graph import bfs_hops

    edges = spark.createDataFrame([(1, 2), (2, 3)], "src long, dst long")
    srcs = spark.createDataFrame([(3,)], "node long")
    for path in both_paths("TASK_BUDGET_BYTES"):
        d = {r["node"]: r["hops"] for r in bfs_hops(
            edges, srcs, max_hops=5, directed=True
        ).collect()}
        assert d == {3: 0}, path  # nothing downstream of 3
        u = {r["node"]: r["hops"] for r in bfs_hops(
            edges, srcs, max_hops=5, directed=False
        ).collect()}
        assert u == {3: 0, 2: 1, 1: 2}, path


def test_bfs_hops_multi_source_min_and_early_exit(spark, both_paths):
    from patternly_spark.operators.graph import bfs_hops

    # two sources; node 3 reachable from both -> min hop wins
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (5, 3), (3, 4), (10, 11)], "src long, dst long"
    )
    srcs = spark.createDataFrame([(1,), (5,)], "node long")
    for path in both_paths("TASK_BUDGET_BYTES"):
        out = {r["node"]: r["hops"] for r in bfs_hops(
            edges, srcs, max_hops=50  # frontier drains long before 50 rounds
        ).collect()}
        assert out == {1: 0, 5: 0, 2: 1, 3: 1, 4: 2}, path  # 10-11 unreachable


def test_jaccard_link_prediction_small(spark):
    from patternly_spark.operators.graph import jaccard_link_prediction

    # star: center 0 joined to 1,2,3; plus edge 1-2.
    # N(1)={0,2}, N(2)={0,1}, N(3)={0}
    edges = spark.createDataFrame(
        [(0, 1), (0, 2), (0, 3), (1, 2)], "src long, dst long"
    )
    out = {(r["u"], r["v"]): r for r in jaccard_link_prediction(edges).collect()}
    # pair (1,2): common={0}; deg 2 each -> 1/(2+2-1)
    assert out[(1, 2)]["common"] == 1 and out[(1, 2)]["jaccard"] == 1 / 3
    # pair (1,3): common={0}; deg_u=2, deg_v=1 -> 1/2
    assert out[(1, 3)]["jaccard"] == 0.5
    # pair (2,3): symmetric to (1,3)
    assert out[(2, 3)]["jaccard"] == 0.5
    # pair (0,1): common={2} (via edge 1-2 and 0-2) -> 1/(3+2-1)
    assert out[(0, 1)]["jaccard"] == 0.25
    assert set(out) == {(0, 1), (0, 2), (1, 2), (1, 3), (2, 3)}


def test_neyman_allocation_closed_form(spark):
    import math

    from patternly_spark.operators.sampling import neyman_allocation

    # stratum x: values 0,2 cents-> sd computable; y: constant -> sd 0;
    # z: single row -> weight 0
    rows = (
        [("x", 0.00), ("x", 0.02)] + [("y", 5.0)] * 3 + [("z", 9.9)]
    )
    df = spark.createDataFrame(rows, "g string, value double")
    out = {r["g"]: r for r in neyman_allocation(
        df, stratum_cols=["g"], value_col="value", total_n=100
    ).collect()}
    # x: cents 0,2 -> var = (2*4 - 4)/2 = 2 -> sd = sqrt(2)/100
    assert out["x"]["sd"] == math.sqrt(2.0) / 100.0
    assert out["y"]["sd"] == 0.0 and out["z"]["sd"] == 0.0
    # all weight flows to x
    assert out["x"]["share"] == 1.0 and out["x"]["alloc_n"] == 100.0
    assert out["y"]["share"] == 0.0 and out["z"]["weight_units"] == 0


def test_neighborhood_function_saturates_and_is_deterministic(spark):
    from patternly_spark.operators.graph import neighborhood_function

    # path 0-1-2-3-4: diameter 4; balls saturate at round 4
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(4)], "src long, dst long"
    )
    out = neighborhood_function(edges, rounds=5, p=6).orderBy("round").collect()
    assert [r["round"] for r in out] == [0, 1, 2, 3, 4, 5]
    assert all(r["nodes"] == 5 for r in out)
    est = [r["est_pairs"] for r in out]
    # monotone non-decreasing, saturated after the diameter
    assert all(x <= y + 1e-9 for x, y in zip(est, est[1:]))
    assert est[4] == est[5]
    # exact N(r) for the path: r=0 -> 5, r=1 -> 13, r=4 -> 25
    # HLL at p=6 on tiny sets uses linear counting: near-exact
    assert abs(est[0] - 5) / 5 < 0.25
    assert abs(est[1] - 13) / 13 < 0.25
    assert abs(est[4] - 25) / 25 < 0.25
    # deterministic under partitioning
    again = (
        neighborhood_function(
            edges.repartition(16), rounds=5, p=6
        ).orderBy("round").collect()
    )
    assert [tuple(r) for r in again] == [tuple(r) for r in out]


def test_neighborhood_function_tracks_exact_bfs(spark):
    from patternly_spark.operators.graph import neighborhood_function

    # random-ish sparse graph; compare N(r) to exact BFS within HLL error
    import random

    rng = random.Random(7)
    n = 60
    es = sorted({(rng.randrange(n), rng.randrange(n)) for _ in range(90)})
    es = [(a, b) for a, b in es if a != b]
    edges = spark.createDataFrame(es, "src long, dst long")
    adj = {}
    for a, b in es:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    nodes = set(adj)

    def ball(v, r):
        seen, frontier = {v}, {v}
        for _ in range(r):
            frontier = {w for x in frontier for w in adj.get(x, ())} - seen
            seen |= frontier
        return len(seen)

    out = {r["round"]: r for r in neighborhood_function(
        edges, rounds=3, p=8
    ).collect()}
    for r in (0, 1, 2, 3):
        exact = sum(ball(v, r) for v in nodes)
        got = out[r]["est_pairs"]
        assert abs(got - exact) / exact < 0.15, (r, got, exact)


def test_degree_assortativity_known_graphs(spark):
    from patternly_spark.operators.graph import degree_assortativity

    # star K_{1,3}: every edge links deg-3 hub to deg-1 leaf -> r = -1
    star = spark.createDataFrame(
        [(0, 1), (0, 2), (0, 3)], "src long, dst long"
    )
    out = degree_assortativity(star).collect()[0]
    assert out["m_edges"] == 3
    assert abs(out["assortativity"] - (-1.0)) < 1e-12
    # triangle: all degrees equal -> zero variance -> NULL
    tri = spark.createDataFrame([(1, 2), (2, 3), (3, 1)], "src long, dst long")
    out = degree_assortativity(tri).collect()[0]
    assert out["assortativity"] is None
    # numpy cross-check on an irregular graph
    import numpy as np

    es = [(0, 1), (1, 2), (2, 3), (3, 0), (0, 2), (4, 0), (5, 1), (6, 1)]
    g = spark.createDataFrame(es, "src long, dst long")
    got = degree_assortativity(g).collect()[0]["assortativity"]
    deg = {}
    for a, b in es:
        deg[a] = deg.get(a, 0) + 1
        deg[b] = deg.get(b, 0) + 1
    xs, ys = [], []
    for a, b in es:
        xs += [deg[a], deg[b]]
        ys += [deg[b], deg[a]]
    want = np.corrcoef(xs, ys)[0, 1]
    assert abs(got - want) < 1e-12


def test_adamic_adar_hand_computed_and_hub_downweight(spark):
    import math

    from patternly_spark.operators.graph import adamic_adar_link_prediction

    u = 1 << 20
    # path 1-2-3: only pair (1,3) via center 2 (deg 2)
    path = spark.createDataFrame([(1, 2), (2, 3)], "src long, dst long")
    out = adamic_adar_link_prediction(path).collect()
    assert len(out) == 1
    r = out[0]
    assert (r["u"], r["v"], r["common"]) == (1, 3, 1)
    assert r["aa_score"] == math.floor(u / math.log(2.0)) / u
    # hub vs tight center: pair (a,b) shares deg-2 center, pair (c,d)
    # shares a deg-5 hub -> AA ranks (a,b) higher though common==1 both
    es = [(10, 1), (11, 1)]  # center 1 deg 2 -> pair (10,11)
    es += [(20, 2), (21, 2), (22, 2), (23, 2), (24, 2)]  # hub 2 deg 5
    g = spark.createDataFrame(es, "src long, dst long")
    got = {(r["u"], r["v"]): r["aa_score"]
           for r in adamic_adar_link_prediction(g).collect()}
    assert got[(10, 11)] == math.floor(u / math.log(2.0)) / u
    assert got[(20, 21)] == math.floor(u / math.log(5.0)) / u
    assert got[(10, 11)] > got[(20, 21)]


# ---------------------------------------------------------------------------
# one-task solve vs distributed rounds (connected_components, core_numbers,
# bfs_hops)
# ---------------------------------------------------------------------------


def _rows_and_schema(df):
    return sorted(map(tuple, df.collect()), key=repr), df.schema


def _messy_edges(seed, n_nodes, n_edges):
    """Random edges plus self-loops, duplicates, reversed duplicates and
    null ids."""
    rng = np.random.default_rng(seed)
    edges = [(int(a), int(b)) for a, b in rng.integers(n_nodes, size=(n_edges, 2))]
    edges += [(3, 3), (7, 7)] + edges[:10] + [(b, a) for a, b in edges[10:20]]
    return edges + [(None, 4), (5, None), (None, None)]


@pytest.mark.parametrize("seed,id_type", [(0, "long"), (1, "int")])
def test_graph_solve_paths_agree_on_messy_graphs(spark, both_paths, monkeypatch, seed, id_type):
    from patternly_spark.operators import graph
    from patternly_spark.operators.graph import bfs_hops, core_numbers

    df = spark.createDataFrame(_messy_edges(seed, 90, 160), f"src {id_type}, dst {id_type}")
    # sources: duplicates, one outside the edge set, a null
    srcs = spark.createDataFrame([(1,), (1,), (2,), (10_000,), (None,)], f"node {id_type}")

    def run():
        return [
            _rows_and_schema(connected_components(df)),
            _rows_and_schema(core_numbers(df)),
            _rows_and_schema(bfs_hops(df, srcs, max_hops=3)),
            _rows_and_schema(bfs_hops(df, srcs, max_hops=3, directed=True)),
        ]

    got = {path: run() for path in both_paths("TASK_BUDGET_BYTES")}
    # a task budget of ~10 rows: the probe runs, sees too many rows and
    # hands the graph to the distributed rounds
    monkeypatch.setattr(plans, "TASK_BUDGET_BYTES", 10.5 * graph.GRAPH_TASK_EDGE_BYTES)
    got["over-budget probe"] = run()
    assert got["in-budget"] == got["distributed"] == got["over-budget probe"]
    bfs_rows = dict(got["in-budget"][2][0])
    assert bfs_rows[None] == 0 and bfs_rows[10_000] == 0 and bfs_rows[1] == 0


def test_graph_solve_paths_agree_on_chain_and_non_null_ids(spark, both_paths):
    from patternly_spark.operators.graph import bfs_hops

    # a 300-node chain over non-nullable ids, scrambled so the chain's
    # order is not the id order
    df = spark.range(299).select(
        F.col("id").bitwiseXOR(85).alias("src"), (F.col("id") + 1).bitwiseXOR(85).alias("dst")
    )
    srcs = spark.range(1).select(F.lit(1 ^ 85).cast("long").alias("node"))

    def run():
        return [
            _rows_and_schema(connected_components(df)),
            _rows_and_schema(bfs_hops(df, srcs, max_hops=12)),
            _rows_and_schema(bfs_hops(df, srcs, max_hops=12, directed=True)),
        ]

    got = {path: run() for path in both_paths("TASK_BUDGET_BYTES")}
    assert got["in-budget"] == got["distributed"]
    cc, bfs, bfs_directed = got["in-budget"]
    assert len(cc[0]) == 300 and {c for _, c in cc[0]} == {0}
    assert not bfs[1]["node"].nullable
    # the source sits second on the chain: 12 hops reach 14 nodes, 13 downstream
    assert len(bfs[0]) == 14 and len(bfs_directed[0]) == 13


def test_core_numbers_max_rounds_bounds_only_distributed_rounds(spark, both_paths):
    """A chain's core numbers take ~n/2 h-index rounds.  The one-task
    solve runs to the fixpoint whatever ``max_rounds`` is; the
    distributed rounds raise at the cap."""
    from patternly_spark.operators.graph import core_numbers

    df = spark.createDataFrame([(i, i + 1) for i in range(300)], "src long, dst long")
    for path in both_paths("TASK_BUDGET_BYTES"):
        if path == "in-budget":
            got = {r.node: r.core for r in core_numbers(df, max_rounds=3).collect()}
            assert got == {i: 1 for i in range(301)}
        else:
            with pytest.raises(RuntimeError, match="did not converge"):
                core_numbers(df, max_rounds=3).collect()


def test_graph_solve_empty_edges(spark, both_paths):
    from patternly_spark.operators.graph import bfs_hops, core_numbers

    edges = spark.createDataFrame([], "src long, dst long")
    srcs = spark.createDataFrame([(4,), (4,), (9,)], "node long")

    def run():
        return [
            _rows_and_schema(connected_components(edges)),
            _rows_and_schema(core_numbers(edges)),
            _rows_and_schema(bfs_hops(edges, srcs)),
        ]

    got = {path: run() for path in both_paths("TASK_BUDGET_BYTES")}
    assert got["in-budget"] == got["distributed"]
    cc, core, bfs = got["in-budget"]
    assert cc[0] == [] and core[0] == []
    assert bfs[0] == [(4, 0), (9, 0)]


def test_graph_solve_jobs_per_operator_bound(spark):
    """A driver-sized graph (~2,000 edges) costs each operator at most
    two Spark jobs, its result collected: the one task that probes and
    solves the whole graph, and the collect of the served result."""
    from patternly_spark.operators.graph import bfs_hops, core_numbers

    rng = np.random.default_rng(4)
    edges = spark.createDataFrame(
        [(int(a), int(b)) for a, b in np.floor(np.exp(rng.random((2000, 2)) * np.log(1500)))],
        "src long, dst long",
    )
    srcs = spark.createDataFrame([(1,), (2,)], "node long")
    jobs = _jobs_per_operator(spark, {
        "connected_components": lambda: connected_components(edges),
        "core_numbers": lambda: core_numbers(edges),
        "bfs_hops": lambda: bfs_hops(edges, srcs, max_hops=6),
    }, "graph-jobs-bound")
    assert all(n <= 2 for n in jobs.values()), jobs


def test_graph_round_loops_size_from_their_pin_count(spark, monkeypatch):
    """On the distributed path, ``core_numbers`` and ``bfs_hops`` size
    their rounds from the count of their pinned edges: 7 jobs each here
    (AQE off, so no query-stage jobs blur the count), where a second
    count of the pin for the sizing cost 8."""
    from patternly_spark.operators import graph

    monkeypatch.setattr(plans, "TASK_BUDGET_BYTES", 0)
    rng = np.random.default_rng(4)
    edges = spark.createDataFrame(
        [(int(a), int(b)) for a, b in np.floor(np.exp(rng.random((300, 2)) * np.log(200)))],
        "src long, dst long",
    )
    srcs = spark.createDataFrame([(1,), (2,)], "node long")
    key = "spark.sql.adaptive.enabled"
    prev = spark.conf.get(key)
    spark.conf.set(key, "false")
    try:
        jobs = _jobs_per_operator(spark, {
            "core_numbers": lambda: graph.core_numbers(edges),
            "bfs_hops": lambda: graph.bfs_hops(edges, srcs, max_hops=4),
        }, "graph-round-jobs")
    finally:
        spark.conf.set(key, prev)
    assert jobs == {"core_numbers": 7, "bfs_hops": 7}, jobs


def test_pinned_round_loops_size_from_their_pin_count(spark):
    """``kcore``, ``minimum_spanning_forest``,
    ``personalized_pagerank_units`` and ``neighborhood_function`` count
    their pinned edges in the pin's own job and size their rounds from
    that count.  On a list-built input (no plan size estimate) each runs
    one job fewer than when a second count sized the rounds (7, 14, 5
    and 6 jobs here, AQE off)."""
    from patternly_spark.operators import graph

    rng = np.random.default_rng(4)
    pairs = np.floor(np.exp(rng.random((300, 2)) * np.log(200))).astype(int)
    edges = spark.createDataFrame([(int(a), int(b)) for a, b in pairs], "src long, dst long")
    weighted = spark.createDataFrame(
        [(int(a), int(b), float((7 * a + b) % 11)) for a, b in pairs], "src long, dst long, weight double"
    )
    seeds = spark.createDataFrame([(1,), (2,)], "node long")
    key = "spark.sql.adaptive.enabled"
    prev = spark.conf.get(key)
    spark.conf.set(key, "false")
    try:
        jobs = _jobs_per_operator(spark, {
            "kcore": lambda: graph.kcore(edges, 2),
            "minimum_spanning_forest": lambda: graph.minimum_spanning_forest(weighted),
            "personalized_pagerank_units": lambda: graph.personalized_pagerank_units(edges, seeds, iterations=2),
            "neighborhood_function": lambda: graph.neighborhood_function(edges, rounds=2),
        }, "graph-pin-count")
    finally:
        spark.conf.set(key, prev)
    assert jobs == {
        "kcore": 6, "minimum_spanning_forest": 13, "personalized_pagerank_units": 4, "neighborhood_function": 5,
    }, jobs


def _jobs_per_operator(spark, ops, tag):
    """name -> Spark jobs run by ``ops[name]()`` with its result
    collected (job groups named by ``tag``, unique per caller)."""
    sc = spark.sparkContext
    jobs = {}
    for name, op in ops.items():
        group = f"{tag}-{name}"
        sc.setJobGroup(group, group)
        try:
            op().collect()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        jobs[name] = len(sc.statusTracker().getJobIdsForGroup(group))
    return jobs
