"""Connected components over candidate-pair graphs — the cluster-formation
step of a dedup pipeline (pairs -> dup groups -> canonical representative).

The reference engine has no graph step (its dedup surface stops at pairs);
a training-data pipeline needs the grouping, so this is a first-class
extension (builder brief: dedup operators).

Algorithm: alternating large-star / small-star (Kiveris et al.,
"Connected Components in MapReduce and Beyond", SoCC'14) — converges in
O(log n) rounds on any graph, each round two shuffles (one per star), so
a 100 TB edge set needs ~log(n) passes instead of the O(diameter) passes
of naive label propagation.  Each round is expressed as window-min +
filter over the edge DataFrame (no UDFs, no driver-side graph), and the
edge set is localCheckpoint-ed per round to keep lineage flat.

Driver-sized graphs skip the rounds.  ``connected_components``,
``core_numbers`` and ``bfs_hops`` first probe their projected edge
rows, before any ``distinct``, with ``plans.solve_within``: ONE task
reads at most cap + 1 of them, where cap is the most rows whose
``GRAPH_TASK_EDGE_BYTES`` stay under the one-task budget.  When
it sees at most cap rows it computes the exact fixpoint with numpy
kernels over all of them (dropping self-loops and duplicate pairs, and
mirroring BFS edges, itself), and the driver serves the node-sized
result as a one-partition DataFrame with the distributed path's rows
and schema: 2 jobs per operator with the result collected, instead of
29-58 on a 30k-edge graph.  The edges are solved in the task, not
collected to the driver, so the driver holds only the result.  When the
probe sees cap + 1 rows, the distributed round loops run unchanged,
over the probe's pin of the edge rows when their plan shuffles (a join
upstream runs once); their ``max_iterations`` / ``max_rounds`` caps
bound only those rounds, since the one-task kernels always run to the
exact fixpoint.

``minimum_spanning_forest`` merges each Boruvka round's components on
the driver once the round's selected edges are driver-sized: one
``plans.collect_within`` job measures and collects them, and
``_cc_kernel`` labels the merged components.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import (
    IntegerType,
    IntegralType,
    LongType,
    StructField,
    StructType,
)

from patternly_spark.plans import (
    collect_within,
    empty_rows,
    local_rows,
    round_partitions,
    round_shuffle,
    solve_within,
    tuned_shuffle,
)


def _pin_disk(df: DataFrame, *, eager: bool = True) -> DataFrame:
    """Eager lineage cut with DISK_ONLY blocks — for round-iterating
    state whose partitions are large at scale (core_numbers labels,
    HyperBall registers).  The default MEMORY_AND_DISK(deserialized)
    localCheckpoint materializes each block as a full object array on
    the heap BEFORE it can be evicted; at sf30 under the documented 8g
    driver heap that transient spike OOMed ~1 in 3 runs (round-10
    repeat protocol).  DISK_ONLY streams blocks out through the
    serializer (bounded transient heap); re-reads ride the OS page
    cache, so per-round cost is serialization, not I/O."""
    from pyspark import StorageLevel

    return df.localCheckpoint(eager=eager, storageLevel=StorageLevel.DISK_ONLY)


def _canon(edges: DataFrame) -> DataFrame:
    """(u, v) undirected-unique with u > v, self-loops dropped."""
    return (
        edges.select(
            F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
        )
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )


# ---------------------------------------------------------------------------
# One-task solve of driver-sized graphs (connected_components, core_numbers,
# bfs_hops)
# ---------------------------------------------------------------------------

#: Task bytes per row of the probed edge relation for the one-task solve,
#: gated at ``plans.TASK_BUDGET_BYTES`` (above it the operators run their
#: distributed round loops): the Arrow batches, their filtered copies, the
#: id index, the CSR arrays and the output table.  Measured over
#: ``plans.solve_within``'s task function, fed 10,000-row Arrow IPC
#: batches of raw log-uniform edges (duplicates and self-loops kept, as
#: the operators receive them) of 80k and 160k rows (peak numpy bytes by
#: tracemalloc plus peak Arrow pool bytes, numpy 1.26, pyarrow 16.1): CC
#: 133, BFS 161 directed and 167 undirected (mirrored in the task), core
#: numbers 171 B/row at both sizes.  The largest, rounded up to 256, so
#: the gate admits ~520k rows.  The rows are counted before any
#: ``distinct``: an edge list with many duplicate pairs reaches the gate
#: sooner than its distinct edges would.
GRAPH_TASK_EDGE_BYTES = 256


def _solve_small(
    df: DataFrame, kernel, schema: StructType, *ids: str
) -> tuple[DataFrame | None, DataFrame]:
    """``plans.solve_within`` of ``kernel`` over ``df`` at
    ``GRAPH_TASK_EDGE_BYTES`` per row: (the served result or None, the
    relation for the distributed rounds).  A column of ``ids`` that is
    not integral gets (None, ``df``) without a probe: the kernels index
    numpy arrays."""
    if not all(isinstance(df.schema[c].dataType, IntegralType) for c in ids):
        return None, df
    return solve_within(df, kernel, schema, GRAPH_TASK_EDGE_BYTES)


def _edges(table: pa.Table) -> tuple[np.ndarray, np.ndarray]:
    """The (u, v) ids of an Arrow edge table, without the rows the
    distributed paths' ``u != v`` filter drops: self-loops and rows with
    a null id.  Duplicate pairs stay."""
    table = table.filter(pc.not_equal(table["u"], table["v"]))
    return table["u"].to_numpy(), table["v"].to_numpy()


def _index(*ids: np.ndarray):
    """Compact 0..n-1 indices for the distinct ids of the arrays: ->
    (sorted distinct ids, one index array per input array).  Index order
    is id order, so the smallest index of a set is its smallest id."""
    uniq, inv = np.unique(np.concatenate(ids), return_inverse=True)
    cuts = np.cumsum([len(x) for x in ids])[:-1]
    return uniq, np.split(inv, cuts)


def _csr(a: np.ndarray, b: np.ndarray, n: int):
    """Adjacency of the directed index edges a -> b over n nodes: ->
    (first slot per node, degree per node, neighbours in slot order)."""
    deg = np.bincount(a, minlength=n)
    return np.cumsum(deg) - deg, deg, b[np.argsort(a, kind="stable")]


def _csr_rows(start: np.ndarray, deg: np.ndarray, nodes: np.ndarray):
    """Slots of the adjacency rows of ``nodes``: -> (for each slot the
    position of its node in ``nodes``, the slot)."""
    cnt = deg[nodes]
    row = np.repeat(np.arange(nodes.size), cnt)
    pos = np.arange(row.size) - (np.cumsum(cnt) - cnt)[row]
    return row, start[nodes][row] + pos


def _cc_kernel(table: pa.Table) -> pa.Table:
    """Component = smallest id, for the edges (u, v) in either
    orientation: min-label hooking of tree roots, then pointer jumping
    to full compression, until no edge joins two trees.  Every round
    each tree either hooks onto a smaller neighbouring tree or receives
    one, so the trees of a component at least halve per round: O(log n)
    rounds.  Duplicate edges change no minimum."""
    ids, (a, b) = _index(*_edges(table))
    lab = np.arange(ids.size)
    while True:
        la, lb = lab[a], lab[b]
        m = np.minimum(la, lb)
        nxt = lab.copy()
        np.minimum.at(nxt, la, m)
        np.minimum.at(nxt, lb, m)
        while True:
            jumped = nxt[nxt]
            if np.array_equal(jumped, nxt):
                break
            nxt = jumped
        if np.array_equal(nxt, lab):
            break
        lab = nxt
    return pa.table({"node": ids, "component": ids[lab]})


def _core_kernel(table: pa.Table) -> pa.Table:
    """Core numbers of the undirected edges (u, v): the Montresor h-index
    iteration of ``core_numbers``' rounds over a CSR.  Labels start at
    the degree; a node whose neighbour moved gets min(label, h-index of
    its neighbours' labels), all from the previous round's labels.  A
    node whose neighbours all kept their labels would compute the label
    it has, so a round recomputes only the neighbours of the nodes that
    moved in the last; the fixpoint, the core numbers, is the same."""
    ids, (u, v) = _index(*_edges(table))
    # one row per undirected pair, as the distributed path's distinct
    u, v = np.divmod(np.unique(np.minimum(u, v) * ids.size + np.maximum(u, v)), max(ids.size, 1))
    start, deg, nbr = _csr(np.concatenate([u, v]), np.concatenate([v, u]), ids.size)
    lab = deg.copy()
    active = np.arange(ids.size)
    while active.size:
        row, slot = _csr_rows(start, deg, active)
        nl = lab[nbr[slot]]
        # neighbour labels descending within each row: the h-index is the
        # number of leading labels at least their 1-based rank
        nl = nl[np.lexsort((-nl, row))]
        rank = slot - start[active][row] + 1
        h = np.bincount(row[nl >= rank], minlength=active.size)
        new = np.minimum(lab[active], h)
        moved = active[new < lab[active]]
        lab[active] = new
        active = np.unique(nbr[_csr_rows(start, deg, moved)[1]])
    return pa.table({"node": ids, "core": lab})


def _bfs_kernel(table: pa.Table, max_hops: int, directed: bool) -> pa.Table:
    """Hop counts from the tagged rows of ``bfs_hops``: ``t`` 0 = an edge
    u -> v, 1 = a source u (null allowed).  Frontier expansion over a
    CSR, each edge also mirrored unless ``directed``: each hop gathers
    the frontier's adjacency rows and settles the unseen neighbours."""
    is_edge = pc.equal(table["t"], 0)
    sources = table.filter(pc.invert(is_edge))["u"]
    ids, (a, b, s) = _index(*_edges(table.filter(is_edge)), sources.drop_null().to_numpy())
    if not directed:
        # mirrored after indexing: the index sorts each id once, not twice
        a, b = np.concatenate([a, b]), np.concatenate([b, a])
    start, deg, nbr = _csr(a, b, ids.size)
    hops = np.full(ids.size, -1, np.int32)
    frontier = np.unique(s)
    hops[frontier] = 0
    for h in range(1, max_hops + 1):
        if not frontier.size:
            break
        reached = nbr[_csr_rows(start, deg, frontier)[1]]
        frontier = np.unique(reached[hops[reached] < 0])
        hops[frontier] = h
    seen = hops >= 0
    node, hops = pa.array(ids[seen]), hops[seen]
    if sources.null_count:
        # the distributed path keeps a null source at hop 0
        node, hops = pa.concat_arrays([node, pa.nulls(1, node.type)]), np.append(hops, 0)
    return pa.table({"node": node, "hops": hops})


def _star_round(cur: DataFrame) -> DataFrame:
    """One large-star + small-star round in THREE exchanges (was five).

    large star: for each node u, connect every strictly-larger neighbor
    to min(N(u) + {u}).  small star: orient u > v, connect u and all its
    (smaller) neighbors to the minimum neighbor.  min-over-neighbors is
    duplicate-insensitive, so the two intermediate ``distinct()``s the
    textbook formulation puts between the stars are dropped: the large-
    star output flows straight into the small-star orientation, and ONE
    trailing distinct (whose map-side partial HashAggregate collapses
    duplicates before the shuffle anyway) restores set semantics.  The
    produced edge SET is identical to the two-distinct form — same
    per-row orientation, same per-partition minima, same (v,m)/(u,m)
    pairs, same final dedup — only the number of full shuffles per
    round changes (guide §2.4)."""
    w = Window.partitionBy("u")
    # large star (no trailing distinct)
    sym = cur.union(cur.select(F.col("v").alias("u"), F.col("u").alias("v")))
    m = F.least(F.min("v").over(w), F.col("u"))
    ls = (
        sym.withColumn("m", m)
        .filter(F.col("v") > F.col("u"))
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
        .filter(F.col("u") != F.col("v"))
    )
    # small star on the duplicate-carrying large-star output: orient
    # without the canon distinct; the window min is unchanged by dups
    oriented = ls.select(
        F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
    ).filter(F.col("u") != F.col("v"))
    withm = oriented.withColumn("m", F.min("v").over(w))
    out = withm.select(F.col("v").alias("u"), F.col("m").alias("v")).union(
        withm.select("u", F.col("m").alias("v"))
    )
    return out.filter(F.col("u") != F.col("v")).distinct()


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    *,
    max_iterations: int = 50,
) -> DataFrame:
    """-> (node, component) for every node appearing in ``edges``; the
    component id is the smallest node id in the component.

    Nodes with no edges don't appear (the caller unions singletons —
    see ``dedup_clusters``).  Raises if the star sequence hasn't
    converged after ``max_iterations`` rounds (needs ~log2(n) in the
    worst case, so 50 covers any realistic graph).

    A driver-sized edge set (its projected rows, duplicates and
    self-loops included, times ``GRAPH_TASK_EDGE_BYTES`` under the
    one-task budget) skips the star rounds: the one task that
    probes its size labels it by min-id hooking with pointer jumping
    (``_cc_kernel``), and the driver serves the labels.  That solve
    always reaches the fixpoint; ``max_iterations`` bounds only the
    distributed rounds.
    """
    def _checksum(df: DataFrame):
        # ONE job per round: (count, order-invariant hash-sum) computed
        # over the LAZILY-checkpointed round relation, so the same pass
        # that answers convergence also materializes the lineage-cut
        # blocks (r11: the eager-checkpoint + separate-checksum shape
        # paid two full passes per round).  A round is only DECLARED
        # converged after an exact exceptAll confirm, so a (vanishingly
        # unlikely) checksum collision can't end the loop early — it
        # only costs one extra comparison.
        row = df.select(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.xxhash64("u", "v").cast("decimal(38,0)")).alias("h"),
        ).first()
        return (row["n"], row["h"])

    projected = edges.select(F.col(src).cast("long").alias("u"), F.col(dst).cast("long").alias("v"))
    # nullable like the star rounds' window minima
    schema = StructType([StructField("node", LongType()), StructField("component", LongType())])
    solved, projected = _solve_small(projected, _cc_kernel, schema)
    if solved is not None:
        return solved
    cur = _canon(projected).localCheckpoint(eager=False)
    cur_sum = _checksum(cur)

    # round-heavy: O(log n) star rounds want bytes-sized partitions, not
    # the session default (plans.round_partitions — the measured
    # sf30/sf100 partition-sizing policy).  Values are partition-count
    # invariant (min/distinct), only wall clock changes.
    spark = edges.sparkSession
    with tuned_shuffle(spark, round_partitions(spark, cur_sum[0])):
        for _ in range(max_iterations):
            nxt = _star_round(cur).localCheckpoint(eager=False)
            nxt_sum = _checksum(nxt)
            if nxt_sum == cur_sum and nxt.exceptAll(cur).isEmpty():
                cur = nxt
                break
            cur, cur_sum = nxt, nxt_sum
        else:
            raise RuntimeError(
                f"connected_components did not converge in {max_iterations} rounds"
            )

    # fixpoint is a star forest: every non-root points at its component min
    nodes = cur.select(F.col("u").alias("node"), F.col("v").alias("component"))
    roots = (
        cur.select(F.col("v").alias("node"))
        .distinct()
        .join(cur.select(F.col("u").alias("node")).distinct(), "node", "left_anti")
        .withColumn("component", F.col("node"))
    )
    return nodes.union(roots)


def dedup_clusters(
    pairs: DataFrame,
    docs: DataFrame | None = None,
    *,
    a_col: str = "doc_a",
    b_col: str = "doc_b",
    id_col: str = "doc_id",
) -> DataFrame:
    """Dup-pair graph -> (doc_id, cluster_id, is_canonical).

    ``cluster_id`` is the smallest doc id in the duplicate group — the
    canonical survivor a dedup pass keeps.  If ``docs`` is given, docs
    without any dup pair appear as their own singleton cluster, so the
    output is a total map over the corpus (what a keep/drop filter
    joins against).
    """
    cc = connected_components(pairs, a_col, b_col).select(
        F.col("node").alias(id_col), F.col("component").alias("cluster_id")
    )
    if docs is not None:
        all_ids = docs.select(F.col(id_col).cast("long").alias(id_col))
        cc = (
            all_ids.join(cc, id_col, "left")
            .select(
                id_col,
                F.coalesce("cluster_id", F.col(id_col)).alias("cluster_id"),
            )
        )
    return cc.withColumn(
        "is_canonical", (F.col(id_col) == F.col("cluster_id"))
    )


def pagerank(
    edges: DataFrame,
    *,
    src_col: str = "src",
    dst_col: str = "dst",
    damping: float = 0.85,
    iterations: int = 10,
    checkpoint_every: int = 3,
) -> DataFrame:
    """Fixed-iteration PageRank over a directed edge list — link-quality
    scoring for web-graph corpus curation (harmonic/PageRank centrality
    is a standard Common-Crawl document-quality signal).

    Power iteration as DataFrame joins: rank_{t+1}(v) = (1-d)/N +
    d * (sum of rank_t(u)/outdeg(u) over in-neighbors u + dangling mass
    / N).  Each iteration is one equi-join ranks-x-edges on src plus one
    groupBy(dst) — both hash-partitioned on the same key pattern, and
    AQE handles the hub skew.  Dangling nodes' mass is redistributed
    uniformly (the standard correction), so ranks sum to 1 every
    iteration (asserted in tests).  Lineage is cut every
    ``checkpoint_every`` rounds (localCheckpoint, the connected-
    components pattern) — without it the 10-join plan tree blows up
    Catalyst analysis time long before data size matters.

    Returns (node, rank double).  Iterative and FP-order-dependent, so
    no SQL oracle (rows-only query); semantics pinned by closed-form
    unit tests (cycle == uniform, star hub formula).
    """
    # the edge relation feeds three consumers (nodes, out-degrees, the
    # per-iteration join) — pin it once instead of recomputing upstream
    # scans/joins per consumer
    e = edges.select(F.col(src_col).alias("src"), F.col(dst_col).alias("dst"))
    e.cache()
    nodes = (
        e.select(F.col("src").alias("node"))
        .union(e.select(F.col("dst").alias("node")))
        .distinct()
    )
    nodes.cache()
    n = nodes.count()
    if n == 0:
        return nodes.withColumn("rank", F.lit(0.0))
    out_deg = e.groupBy("src").agg(F.count(F.lit(1)).alias("__deg"))
    links = e.join(out_deg, "src")
    links.cache()
    d = float(damping)
    ranks = nodes.withColumn("rank", F.lit(1.0 / n))
    pending: list[DataFrame] = []
    with round_shuffle(e):
        for it in range(int(iterations)):
            contribs = (
                links.join(ranks.withColumnRenamed("node", "src"), "src")
                .groupBy(F.col("dst").alias("node"))
                .agg(F.sum(F.col("rank") / F.col("__deg")).alias("__in"))
            )
            # cached because both the dangling aggregate and the rank join
            # consume it; dropped as soon as a checkpoint materializes them
            contribs.cache()
            pending.append(contribs)
            # total emitted contribution == rank mass held by nodes WITH
            # out-edges, so dangling mass = 1 - sum(__in) — a 1-row lazy
            # broadcast aggregate REUSING contribs, not a separate join or a
            # per-iteration driver action: each iteration is exactly two
            # shuffles (ranks x links equi-join, groupBy dst) plus the
            # nodes join, and rounds compile into one plan per checkpoint
            # interval
            dang = contribs.agg(
                (F.lit(1.0) - F.coalesce(F.sum("__in"), F.lit(0.0))).alias("__dm")
            )
            ranks = (
                nodes.join(contribs, "node", "left")
                .crossJoin(F.broadcast(dang))
                .select(
                    "node",
                    (
                        F.lit((1.0 - d) / n)
                        + F.lit(d) * F.col("__dm") / F.lit(float(n))
                        + F.lit(d) * F.coalesce(F.col("__in"), F.lit(0.0))
                    ).alias("rank"),
                )
            )
            if (it + 1) % int(checkpoint_every) == 0 or it == int(iterations) - 1:
                ranks = ranks.localCheckpoint(eager=True)
                for c in pending:
                    c.unpersist(False)
                pending = []
    # the final ranks are checkpointed (no lineage into the cached
    # relations), so release them instead of leaking in a long session
    for df_ in (links, nodes, e):
        df_.unpersist(False)
    return ranks


def label_propagation(
    edges: DataFrame,
    *,
    src_col: str = "src",
    dst_col: str = "dst",
    iterations: int = 3,
    checkpoint_every: int = 3,
) -> DataFrame:
    """Synchronous label propagation (LPA) over an undirected graph —
    community detection for corpus curation: topic/host communities in
    a link graph are coarser than connected components (which merge
    everything reachable) and need no target count like k-means.

    Deterministic variant so results are engine-replayable: labels start
    as the node id; each round every node adopts the most frequent label
    among its NEIGHBORS (ties -> smallest label; isolated nodes keep
    their label).  All updates are simultaneous (synchronous) and the
    round count is fixed, so the whole run is a pure function of the
    edge set — an external SQL oracle can replay it round by round.

    Each round: one equi-join labels x symmetrized edges on the
    neighbor key + one groupBy (node, label) + an argmax window
    partitioned by node — the same shuffle-on-node-key pattern as
    ``connected_components``, hub skew handled by AQE.  Lineage is cut
    every ``checkpoint_every`` rounds (localCheckpoint) exactly like
    ``pagerank``.  Synchronous LPA can oscillate on bipartite-ish
    structures; a fixed round budget makes that a bounded, deterministic
    behavior rather than a nontermination risk.

    Returns (node, label) — label is the community representative after
    ``iterations`` rounds.
    """
    e = edges.select(F.col(src_col).alias("a"), F.col(dst_col).alias("b"))
    sym = e.union(e.select(F.col("b").alias("a"), F.col("a").alias("b"))).distinct()
    sym.cache()
    labels = sym.select(F.col("a").alias("node")).distinct().withColumn(
        "label", F.col("node")
    )
    with round_shuffle(sym):
        for it in range(int(iterations)):
            neigh = (
                sym.join(labels.withColumnRenamed("node", "b"), "b")
                .groupBy(F.col("a").alias("node"), "label")
                .agg(F.count(F.lit(1)).alias("__c"))
            )
            # argmax(count desc, label asc) as a min-of-struct aggregate:
            # no window sort, and every node in sym has >= 1 neighbor so
            # this is TOTAL over the node set — the old per-round
            # nodes |x| labels |x| best coalesce re-join was redundant
            # (r11, guide §2.4: two joins + a sorting window removed per
            # round, values identical)
            labels = (
                neigh.groupBy("node")
                .agg(
                    F.min(
                        F.struct(
                            (-F.col("__c")).alias("__nc"), F.col("label").alias("l")
                        )
                    ).alias("p")
                )
                .select("node", F.col("p.l").alias("label"))
            )
            if (it + 1) % int(checkpoint_every) == 0 or it == int(iterations) - 1:
                labels = labels.localCheckpoint(eager=True)
    sym.unpersist(False)
    return labels


def triangle_counts(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Per-node triangle participation counts + local clustering
    coefficient — the degree-ordered (Suri-Vassilvitskii MapReduce)
    algorithm: orient every undirected edge from the lower-ranked to
    the higher-ranked endpoint under the total order (degree, id), form
    wedges only at each edge's LOWER-ranked node, and close them
    against the oriented edge set.

    Why degree ordering matters at 100 TB: a naive wedge join fans out
    quadratically at hub nodes (a degree-10^6 node contributes 10^12
    wedges); orienting by degree caps every node's out-degree at
    O(sqrt(m)), bounding total wedges by O(m^1.5) regardless of skew —
    the difference between a runnable plan and an exploding one.  Three
    shuffles total: degree agg, wedge self-join, closing join.

    Counting is exact: each triangle {a,b,c} is built exactly once (as
    the wedge at its lowest-ranked vertex, closed by its highest edge),
    then credited to all three corners via one explode + groupBy.

    Input may be directed/multi/self-looped; it is canonicalized to
    simple undirected edges first.  Output: (node, degree, triangles,
    clustering) where clustering = 2*triangles / (degree*(degree-1))
    (0.0 for degree < 2) — integer counts + one division, engine-exact.
    """
    und = (
        edges.select(
            F.least(F.col(src), F.col(dst)).alias("u"),
            F.greatest(F.col(src), F.col(dst)).alias("v"),
        )
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )
    deg = (
        und.select(F.col("u").alias("node"))
        .unionAll(und.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).cast("long").alias("degree"))
    )
    # orient u->v iff (deg(u), u) < (deg(v), v)
    with_deg = (
        und.join(deg.select(F.col("node").alias("u"), F.col("degree").alias("du")), "u")
        .join(deg.select(F.col("node").alias("v"), F.col("degree").alias("dv")), "v")
    )
    fwd = (F.col("du") < F.col("dv")) | (
        (F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))
    )
    oriented = with_deg.select(
        F.when(fwd, F.col("u")).otherwise(F.col("v")).alias("lo"),
        F.when(fwd, F.col("v")).otherwise(F.col("u")).alias("hi"),
    )
    # wedges at the low node: (b, c) with b, c both above lo; close on b->c
    # or c->b having been oriented — but orientation is a total order, so
    # the closing edge is (min_rank, max_rank); join both orientations by
    # normalizing the wedge ends with the same (degree, id) rank
    e1 = oriented.select(F.col("lo").alias("a"), F.col("hi").alias("b"))
    e2 = oriented.select(F.col("lo").alias("a"), F.col("hi").alias("c"))
    wedges = e1.join(e2, "a").filter(F.col("b") < F.col("c"))
    # the closing oriented edge between b and c can be b->c or c->b
    # depending on their (degree, id) ranks; match either direction
    closing = oriented.select(
        F.least("lo", "hi").alias("b"), F.greatest("lo", "hi").alias("c")
    )
    tris = wedges.join(closing, ["b", "c"]).select("a", "b", "c")
    per_node = (
        tris.select(F.explode(F.array("a", "b", "c")).alias("node"))
        .groupBy("node")
        .agg(F.count(F.lit(1)).cast("long").alias("triangles"))
    )
    return (
        deg.join(per_node, "node", "left")
        .select(
            "node",
            "degree",
            F.coalesce("triangles", F.lit(0)).cast("long").alias("triangles"),
            F.when(
                F.col("degree") >= 2,
                2.0
                * F.coalesce("triangles", F.lit(0)).cast("double")
                / (
                    F.col("degree").cast("double")
                    * (F.col("degree") - F.lit(1)).cast("double")
                ),
            )
            .otherwise(F.lit(0.0))
            .alias("clustering"),
        )
    )


def kcore(
    edges: DataFrame,
    k: int,
    src: str = "src",
    dst: str = "dst",
    *,
    max_rounds: int = 40,
) -> DataFrame:
    """The k-core of an undirected graph: the maximal subgraph in which
    every node has degree >= k — the standard density filter before
    community detection, and the graph-curation analogue of a quality
    floor (nodes that only connect to peripheral nodes peel away).

    Synchronous peeling: each round computes degrees over the remaining
    edge set, drops EVERY node currently under k, and repeats until no
    node is dropped — the Spark-natural formulation (one degree agg +
    two anti-joins per round, localCheckpoint lineage cuts, driver sees
    only a 1-row emptiness count).  Round count is bounded by the
    longest peel cascade (typically tens); each round's work shrinks
    with the surviving graph, so cost is dominated by the first rounds
    at any scale.

    Output: (node, core_degree) for k-core members — core_degree is the
    node's degree WITHIN the core (>= k by definition).

    Raises RuntimeError if the peel has not converged within
    ``max_rounds`` (long cascades — e.g. a path graph needs ~n/2
    rounds): an unconverged result would report under-k nodes as core
    members, silently violating the invariant (``core_numbers`` raises
    on the same condition).
    """
    und = (
        edges.select(
            F.least(F.col(src), F.col(dst)).alias("u"),
            F.greatest(F.col(src), F.col(dst)).alias("v"),
        )
        .filter(F.col("u") != F.col("v"))
        .distinct()
        .localCheckpoint(eager=False)
    )
    # the count materializes the pin in the same pass and sizes the rounds
    n_und = und.count()
    kk = int(k)
    converged = False
    spark = edges.sparkSession
    with tuned_shuffle(spark, round_partitions(spark, n_und)):
        for _ in range(int(max_rounds)):
            # bad is lazily pinned so ONE full count() both materializes
            # it and answers the convergence probe; the two anti-join
            # branches then read the pinned blocks instead of
            # re-evaluating the degree aggregate per branch (the old
            # shape paid three degree-agg evaluations + two jobs per
            # round: probe, and a duplicated subtree under the eager
            # peel checkpoint — r11, guide §2.4/§3.3)
            bad = (
                und.select(F.col("u").alias("node"))
                .unionAll(und.select(F.col("v").alias("node")))
                .groupBy("node")
                .agg(F.count(F.lit(1)).cast("long").alias("degree"))
                .filter(F.col("degree") < kk)
                .select("node")
                .localCheckpoint(eager=False)
            )
            if bad.count() == 0:
                converged = True
                break
            # lazy peel pin: the NEXT round's probe job materializes it
            und = (
                und.join(bad.withColumnRenamed("node", "u"), "u", "left_anti")
                .join(bad.withColumnRenamed("node", "v"), "v", "left_anti")
                .select("u", "v")
                .localCheckpoint(eager=False)
            )
    if not converged:
        # the final round may have peeled the last under-k nodes without
        # a follow-up check — re-verify before declaring failure
        final_deg = (
            und.select(F.col("u").alias("node"))
            .unionAll(und.select(F.col("v").alias("node")))
            .groupBy("node")
            .agg(F.count(F.lit(1)).cast("long").alias("degree"))
        )
        if final_deg.filter(F.col("degree") < kk).limit(1).count() > 0:
            raise RuntimeError(
                f"kcore(k={kk}) did not converge within max_rounds={max_rounds}: "
                "nodes with degree < k remain; raise max_rounds"
            )
    return (
        und.select(F.col("u").alias("node"))
        .unionAll(und.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).cast("long").alias("core_degree"))
    )


def core_numbers(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    *,
    max_rounds: int = 100,
) -> DataFrame:
    """Full k-core decomposition: every node's core number (the largest
    k whose k-core contains it) — the one-shot hierarchy that answers
    every ``kcore(k)`` query at once, and the standard graph-curation
    density score.

    Distributed h-index iteration (Montresor et al., "Distributed
    k-core decomposition"): labels start at degree; each round sets
    label(v) to the H-INDEX of its neighbors' labels (the largest h
    with >= h neighbors labeled >= h).  Labels decrease monotonically
    and the fixpoint is exactly the core number.  Each round is one
    join + one per-node WINDOW rank over neighbor labels; convergence
    is a 1-row changed-count.  The h-index is deliberately computed as
    ``max(rank_i where label_i >= rank_i)`` over a row_number window
    rather than a collect_list array fold: a window sort SPILLS under
    memory pressure, while a heavy-hitter node's collect_list array is
    an unspillable per-group buffer — at sf30 the co-purchase graph's
    hub parts OOMed the round's materialization ~50% of runs (round-10
    repeat protocol finding); the window form survives with identical
    values (h-index is rank-order arithmetic, no arrays).

    Rounds needed track the graph's core hierarchy depth (typically
    tens); ``max_rounds`` caps pathological chains — on cap the labels
    are a valid UPPER bound that has not converged (raise instead of
    returning silently-wrong numbers).

    A driver-sized edge set (its projected rows, duplicates and
    self-loops included, times ``GRAPH_TASK_EDGE_BYTES`` under the
    one-task budget) skips the rounds: the one task that
    probes its size runs the same h-index iteration vectorized over a
    CSR (``_core_kernel``), and the driver serves the core numbers.
    That solve always reaches the fixpoint; ``max_rounds`` bounds only
    the distributed rounds.

    Output: (node, core) — isolated nodes never appear (no edges).
    """
    def undirected(pairs: DataFrame) -> DataFrame:
        return (
            pairs.select(F.least("u", "v").alias("u"), F.greatest("u", "v").alias("v"))
            .filter(F.col("u") != F.col("v"))
            .distinct()
        )

    pairs = edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
    # least/greatest of one pair: u and v share type and nullability
    u = undirected(pairs).schema["u"]
    node = StructField("node", u.dataType, u.nullable)
    solved, pairs = _solve_small(
        pairs, _core_kernel, StructType([node, StructField("core", LongType(), False)]), "u", "v"
    )
    if solved is not None:
        return solved
    und = _pin_disk(undirected(pairs), eager=False)
    # the count materializes the pin in the same pass (the eager pin's job)
    n_und = und.count()
    both = und.select(F.col("u").alias("a"), F.col("v").alias("b")).unionAll(
        und.select(F.col("v").alias("a"), F.col("u").alias("b"))
    )
    labels = _pin_disk(
        both.groupBy(F.col("a").alias("node")).agg(
            F.count(F.lit(1)).cast("long").alias("label")
        )
    )

    # h-index as a spill-safe window: rank neighbor labels descending
    # per node, take max(rank where label >= rank) — identical to the
    # sorted-array definition, but the sort is an (external, spilling)
    # window instead of an unspillable collect_list buffer
    w_h = Window.partitionBy("a").orderBy(F.desc("nl"), "b")
    # sized from the pin's count: round_shuffle would count it again
    # whenever the plan has no size estimate
    spark = edges.sparkSession
    with tuned_shuffle(spark, round_partitions(spark, n_und)):
        for _ in range(int(max_rounds)):
            hidx = (
                both.join(
                    labels.select(F.col("node").alias("b"), F.col("label").alias("nl")),
                    "b",
                )
                .withColumn("__i", F.row_number().over(w_h))
                .groupBy(F.col("a").alias("node"))
                .agg(
                    F.coalesce(
                        F.max(F.when(F.col("nl") >= F.col("__i"), F.col("__i"))),
                        F.lit(0),
                    )
                    .cast("long")
                    .alias("__h")
                )
            )
            # lazy DISK_ONLY pin + FULL changed-count: one job both
            # materializes the round's label blocks and answers the
            # convergence probe (the eager pin + limit(1) probe shape
            # paid two passes per round — r11, guide §2.4); DISK_ONLY
            # memory safety (round-10 sf30 finding) is unchanged
            new_labels = _pin_disk(
                hidx.join(labels, "node")
                .select(
                    "node",
                    F.least(F.col("label"), F.col("__h")).alias("new_label"),
                    "label",
                ),
                eager=False,
            )
            changed = new_labels.filter(F.col("new_label") != F.col("label")).count()
            labels = new_labels.select("node", F.col("new_label").alias("label"))
            if changed == 0:
                return labels.select("node", F.col("label").alias("core"))
    raise RuntimeError(
        f"core_numbers did not converge within {max_rounds} rounds; "
        "labels are an unconverged upper bound — raise max_rounds"
    )


#: Driver bytes per selected-edge row of the MSF driver merge, gated at
#: ``plans.DRIVER_BUDGET_BYTES``: the collected five-column Arrow table,
#: ``_cc_kernel`` over its (cu, cv) pairs and the two one-partition frames
#: served from them.  Measured over exactly that code on synthetic merge
#: graphs (distinct large ids, every row joining two new components):
#: tracemalloc peak 184 and 180 B/row at 100k and 200k rows plus 32 B/row
#: of peak Arrow pool bytes (the table is 40 B/row; numpy 1.26, pyarrow
#: 16.1); rounded up to 256, so the gate admits ~262k rows.
MSF_MERGE_ROW_BYTES = 256


def minimum_spanning_forest(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    weight: str = "weight",
    *,
    max_rounds: int = 40,
    strict: bool = True,
) -> DataFrame:
    """Minimum spanning forest via distributed Boruvka — the backbone of
    single-linkage clustering at scale (cut the MSF at a distance
    threshold and the components ARE the single-linkage clusters, e.g.
    over near-dup pair distances): each round every component selects
    its minimum outgoing edge (total tie-break on (weight, u, v) makes
    the choice — and hence the forest on distinct-weight-free inputs —
    deterministic), selected edges merge components via one
    connected-components pass over the star graph, and edges internal
    to a component drop out.  Components at least HALVE per round, so
    O(log n) rounds regardless of shape — the textbook reason Boruvka
    (not Prim/Kruskal, both inherently sequential) is the distributed
    MST algorithm.

    Each round: two joins to translate endpoints to component labels,
    one min-by per component, one CC over selected edges (a numpy pass
    on the driver once they are driver-sized, else O(log) star rounds
    on a relation with <= #components edges), one localCheckpoint
    lineage cut.  Nothing corpus-sized ever sits on the driver.

    Output: the forest's edges (u, v, weight) with u < v — n - c rows
    for n nodes in c components.  Raises on non-convergence (the
    kcore/core_numbers convention); ``strict=False`` returns the partial
    forest after ``max_rounds`` instead — the fixed-round-budget shape
    the bench tracks (every returned edge is still a true MSF edge:
    Boruvka never retracts a selection).

    Round merge: the selected-edge relation carries its endpoint
    COMPONENT labels through the min-by struct (the labels are constant
    per edge, so the (w, u, v) tie-break is unchanged), so its (cu, cv)
    pairs are the component-merge graph.  That graph has at most one
    edge per component and SHRINKS at least geometrically per round.
    It is pinned, and one ``plans.collect_within`` job materializes the
    pin and, once the selected edges x ``MSF_MERGE_ROW_BYTES`` fit the
    driver budget, collects it: ``_cc_kernel`` then gives every touched
    component the smallest component id of its merged group, the map
    the distributed ``connected_components`` gives, and the forest rows
    and the labels are served as one-partition frames, the labels
    broadcast.  A round whose merge graph is over the budget (the early
    rounds of a 100 TB run) reads the pin with the distributed
    ``connected_components``.
    """
    e = (
        edges.select(
            F.least(F.col(src), F.col(dst)).alias("u"),
            F.greatest(F.col(src), F.col(dst)).alias("v"),
            F.col(weight).cast("double").alias("w"),
        )
        .filter(F.col("u") != F.col("v"))
        .groupBy("u", "v")
        .agg(F.min("w").alias("w"))
        .localCheckpoint(eager=False)
    )
    # the count materializes the pin in the same pass and sizes the rounds
    n_e = e.count()
    spark = edges.sparkSession
    # label = component id per node; starts as identity
    labels = (
        e.select(F.col("u").alias("node"))
        .unionAll(e.select(F.col("v").alias("node")))
        .distinct()
        .select("node", F.col("node").alias("comp"))
        .localCheckpoint(eager=True)
    )
    forest = empty_rows(spark, "u long, v long, w double")
    with tuned_shuffle(spark, round_partitions(spark, n_e)):
        for _ in range(int(max_rounds)):
            lab_u = labels.select(F.col("node").alias("u"), F.col("comp").alias("cu"))
            lab_v = labels.select(F.col("node").alias("v"), F.col("comp").alias("cv"))
            # lazy pin + full count: ONE job both materializes the
            # lineage cut and answers the emptiness probe (the eager
            # checkpoint + limit(1).count() shape paid two passes — r11)
            crossing = (
                e.join(lab_u, "u")
                .join(lab_v, "v")
                .filter(F.col("cu") != F.col("cv"))
                .localCheckpoint(eager=False)
            )
            if crossing.count() == 0:
                break
            # each component's minimum outgoing edge, totally tie-broken
            # on (w, u, v) exactly as before; cu/cv ride along (constant
            # per (u, v) edge within a round, so they cannot perturb the
            # min) to give the merge step its component endpoints without
            # a join back against crossing
            pick = F.struct(
                F.col("w"), F.col("u"), F.col("v"), F.col("cu"), F.col("cv")
            )
            per_comp = (
                crossing.select(F.col("cu").alias("comp"), pick.alias("p"))
                .unionAll(crossing.select(F.col("cv").alias("comp"), pick.alias("p")))
                .groupBy("comp")
                .agg(F.min("p").alias("p"))
                .select("p.u", "p.v", "p.w", "p.cu", "p.cv")
                .distinct()
                .localCheckpoint(eager=False)
            )
            # one job materializes the pin, and collects it when it fits
            selected = collect_within(per_comp, MSF_MERGE_ROW_BYTES)[0]
            if selected is not None:
                rows = spark.createDataFrame(selected.select(["u", "v", "w"]), "u long, v long, w double")
                forest = forest.unionByName(rows.coalesce(1))
                # smallest component id per merged group, as the
                # distributed connected_components labels it
                merge = _cc_kernel(selected.select(["cu", "cv"]).rename_columns(["u", "v"]))
                merge = merge.rename_columns(["comp", "component"])
                merged = F.broadcast(spark.createDataFrame(merge, "comp long, component long").coalesce(1))
            else:
                forest = forest.unionByName(
                    per_comp.select("u", "v", "w")
                ).localCheckpoint(eager=False)
                # merge components: CC over comp-level star edges
                comp_edges = per_comp.select(
                    F.col("cu").alias("src"), F.col("cv").alias("dst")
                ).distinct()
                merged = connected_components(comp_edges).withColumnRenamed("node", "comp")
            labels = (
                labels.join(merged, "comp", "left")
                .select(
                    "node",
                    F.coalesce(F.col("component"), F.col("comp")).alias("comp"),
                )
                .localCheckpoint(eager=False)
            )
        else:
            if strict:
                raise RuntimeError(
                    f"minimum_spanning_forest did not converge in {max_rounds} rounds"
                )
    return forest.select("u", "v", F.col("w").alias(weight))


def personalized_pagerank_units(
    edges: DataFrame,
    seeds: DataFrame,
    *,
    iterations: int = 2,
    src: str = "src",
    dst: str = "dst",
    seed_col: str = "node",
    units: int = 1 << 30,
    alpha_num: int = 1,
    alpha_den: int = 2,
) -> DataFrame:
    """Personalized PageRank in INTEGER mass units — the seeded-random-
    walk relevance score (recommendation / expansion from a seed set),
    made engine-exact the repo way: p_{t+1}(v) = restart(v) +
    sum_{u->v} floor(alpha * p_t(u) / outdeg(u)), with restart(v) =
    floor(units*(1-alpha)) at every seed and p_0 = units at every
    seed.  All arithmetic is integer multiply-then-floor-divide, so
    any engine replays the fixpoint bit-for-bit — the floor leaks
    < outdeg units per node per round (bounded, documented), which is
    the price that turns q72's rows-only float PageRank shape into an
    ORACLE-EXACT statistic.  alpha = alpha_num/alpha_den (rational).

    Per round: one join to attach out-degrees, one edge join, one
    map-side-combined groupBy on dst, one union with the constant
    restart relation.  Dangling seeds keep their restart mass.

    Output: (node, ppr_units long, ppr double = units-normalized).
    """
    e = (
        edges.select(F.col(src).alias("s"), F.col(dst).alias("d"))
        .filter(F.col("s") != F.col("d"))
        .distinct()
        .localCheckpoint(eager=False)
    )
    # the count materializes the pin in the same pass and sizes the rounds
    n_e = e.count()
    deg = e.groupBy("s").agg(F.count(F.lit(1)).cast("long").alias("od"))
    sd = seeds.select(F.col(seed_col).alias("node")).distinct()
    u = int(units)
    an, ad = int(alpha_num), int(alpha_den)
    restart = (u * (ad - an)) // ad
    p = sd.select("node", F.lit(u).cast("long").alias("pu"))
    spark = edges.sparkSession
    with tuned_shuffle(spark, round_partitions(spark, n_e)):
        for _ in range(int(iterations)):
            contrib = (
                p.join(deg, p["node"] == deg["s"])
                .join(e, "s")
                .select(
                    F.col("d").alias("node"),
                    # integral `div`, NOT floor(double /): at ~2^40 units a
                    # double quotient can round up across an integer and
                    # floor() the wrong way — integer division cannot
                    F.expr(f"(pu * {an}) div ({ad} * od)")
                    .cast("long")
                    .alias("pu"),
                )
            )
            p = (
                sd.select("node", F.lit(restart).cast("long").alias("pu"))
                .unionByName(contrib)
                .groupBy("node")
                .agg(F.sum("pu").cast("long").alias("pu"))
                .filter(F.col("pu") > 0)
                .localCheckpoint(eager=True)
            )
    return p.select(
        "node",
        F.col("pu").alias("ppr_units"),
        (F.col("pu").cast("double") / F.lit(float(u))).alias("ppr"),
    )


def bfs_hops(
    edges: DataFrame,
    sources: DataFrame,
    *,
    src: str = "src",
    dst: str = "dst",
    source_col: str = "node",
    max_hops: int = 6,
    directed: bool = False,
) -> DataFrame:
    """Multi-source BFS: minimum hop count from ANY source node, bounded
    by ``max_hops`` — the blast-radius / influence-horizon primitive
    (how far does a contaminated document's dup-neighborhood reach? which
    users sit within k interaction hops of a flagged account?).

    Frontier-based: round h joins the hop-(h-1) frontier to the edge
    list, anti-joins already-settled nodes, and settles the survivors at
    hop h.  Every node enters the settled set EXACTLY once (BFS's
    defining invariant), so total work is O(E * 1) edge traversals per
    reachable edge, not O(E * rounds); the frontier and settled relations
    are localCheckpoint-ed per round to keep lineage flat, and the loop's
    only driver action is a 1-row frontier-emptiness count.  Early-exits
    when the frontier drains before ``max_hops``.

    Undirected mode (default) mirrors each edge once up front.  The
    result is deterministic integer data — min() over a fixed relation —
    so a bounded recursive-CTE SQL replica matches exactly.

    A driver-sized edge set (its projected rows plus the source rows,
    before mirroring or ``distinct``, times ``GRAPH_TASK_EDGE_BYTES``
    under the one-task budget) skips the rounds: the one task that
    probes its size mirrors the edges unless ``directed``, expands the
    frontier over a CSR up to ``max_hops`` (``_bfs_kernel``), and the
    driver serves the hop counts.  The sources reach that task as tagged
    rows of its input, so an empty edge set still returns them at hop 0.

    Output: (node, hops int) for every node within ``max_hops`` of a
    source (sources themselves at hops 0).
    """
    source = F.col(source_col)
    tagged = (
        edges.select(F.lit(0).alias("t"), F.col(src).alias("u"), F.col(dst).alias("v"))
        .unionByName(sources.select(F.lit(1).alias("t"), source.alias("u"), source.alias("v")))
    )

    def edge_set(tagged: DataFrame) -> DataFrame:
        e = tagged.filter(F.col("t") == 0).select("u", "v").filter(F.col("u") != F.col("v"))
        if not directed:
            e = e.unionAll(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
        return e.distinct()

    # the distributed path's node column: sources unioned with reached
    # edge ends (type widened, nullable if either side is)
    node = sources.select(source.alias("node")).unionByName(
        edge_set(tagged).select(F.col("v").alias("node"))
    ).schema["node"]
    solved, tagged = _solve_small(
        tagged,
        lambda table: _bfs_kernel(table, int(max_hops), directed),
        StructType([node, StructField("hops", IntegerType(), False)]),
        "u",
        "v",
    )
    if solved is not None:
        return solved
    e = edge_set(tagged).localCheckpoint(eager=False)
    # the count materializes the pin in the same pass (the eager pin's job)
    n_e = e.count()

    settled = (
        sources.select(F.col(source_col).alias("node"))
        .distinct()
        .withColumn("hops", F.lit(0))
        .localCheckpoint(eager=True)
    )
    frontier = settled
    # sized from the pin's count: round_shuffle would count it again
    # whenever the plan has no size estimate
    spark = edges.sparkSession
    with tuned_shuffle(spark, round_partitions(spark, n_e)):
        for h in range(1, int(max_hops) + 1):
            # lazy pin + FULL count: one job materializes the frontier
            # and answers the emptiness probe (eager pin + limit(1) paid
            # two jobs per hop — r11, guide §2.4); the settled union is
            # likewise lazy, materialized by the next hop's probe job
            nxt = (
                frontier.join(e, frontier["node"] == e["u"])
                .select(F.col("v").alias("node"))
                .distinct()
                .join(settled.select("node"), "node", "left_anti")
                .withColumn("hops", F.lit(h))
                .localCheckpoint(eager=False)
            )
            if nxt.count() == 0:
                break
            settled = settled.unionByName(nxt).localCheckpoint(eager=False)
            frontier = nxt
    return settled.select("node", F.col("hops").cast("int").alias("hops"))


def jaccard_link_prediction(
    edges: DataFrame,
    *,
    src: str = "src",
    dst: str = "dst",
    min_common: int = 1,
) -> DataFrame:
    """Common-neighbor Jaccard link prediction: for every non-adjacent-
    or-adjacent node pair sharing >= ``min_common`` neighbors,

        jaccard = |N(u) & N(v)| / (|N(u)| + |N(v)| - |N(u) & N(v)|)

    — the classic link-prediction / node-similarity score (Liben-Nowell
    & Kleinberg 2003): parts whose co-purchase neighborhoods overlap are
    substitutes, users whose interaction neighborhoods overlap are the
    same person's accounts.

    Shape: one wedge join through the shared neighbor (adjacency joined
    to itself on the center node, u < v to emit each pair once), one
    pair-count groupBy, two degree joins against the node-degree table.
    The wedge fan-out is sum_n deg(n)^2 — at 100 TB cap hub degrees
    first (``per_key_cap`` on the adjacency, the q177 degree-ordering
    precedent) or pre-filter to the k-core of interest; the algebra
    here is unchanged.  Integer counts + one division: engine-exact.

    Output: (u, v, common, deg_u, deg_v, jaccard) with u < v.
    """
    adj = (
        edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
        .filter(F.col("a") != F.col("b"))
    )
    # the adjacency feeds THREE consumers (degree table + both wedge
    # sides); pin it or Catalyst re-expands the upstream edge pipeline
    # three times (the q176 subtree-recompute lesson)
    adj = (
        adj.unionAll(adj.select(F.col("b").alias("a"), F.col("a").alias("b")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    deg = adj.groupBy(F.col("a").alias("node")).agg(
        F.count(F.lit(1)).cast("long").alias("deg")
    )
    l = adj.select(F.col("a").alias("n"), F.col("b").alias("u"))
    r = adj.select(F.col("a").alias("n"), F.col("b").alias("v"))
    pairs = (
        l.join(r, "n")
        .filter(F.col("u") < F.col("v"))
        .groupBy("u", "v")
        .agg(F.count(F.lit(1)).cast("long").alias("common"))
        .filter(F.col("common") >= int(min_common))
    )
    du = deg.select(F.col("node").alias("u"), F.col("deg").alias("deg_u"))
    dv = deg.select(F.col("node").alias("v"), F.col("deg").alias("deg_v"))
    out = pairs.join(du, "u").join(dv, "v")
    return out.select(
        "u",
        "v",
        "common",
        "deg_u",
        "deg_v",
        (
            F.col("common").cast("double")
            / (F.col("deg_u") + F.col("deg_v") - F.col("common")).cast("double")
        ).alias("jaccard"),
    )


def neighborhood_function(
    edges: DataFrame,
    *,
    rounds: int,
    p: int = 6,
    src: str = "src",
    dst: str = "dst",
    directed: bool = False,
    units: int = 1 << 20,
) -> DataFrame:
    """HyperBall (Boldi-Rosa-Vigna, "HyperBall: Counting Distinct
    Nodes in Graph Neighborhoods", arXiv:1308.2144): the neighborhood
    function N(r) = sum over nodes v of |B(v, r)| — how many
    (source, target) pairs are within r hops — estimated by giving
    every node an explicit-register HyperLogLog of its ball and
    propagating registers along edges with max-merge per round.  The
    distributed route to effective-diameter / average-distance numbers
    that exact all-pairs BFS (O(n·m)) can never deliver at 100 TB.

    Built on the q148 register relation (`sketches.hll_registers` /
    `hll_estimate`): registers are (node, reg, rho) rows, a round is
    one edge join + one (node, reg) max-groupBy — max-merge is
    idempotent/associative, so the round is ONE shuffle with map-side
    partial max, and lineage is cut per round (localCheckpoint).
    State is at most n·2^p rows but typically far less (sparse: only
    touched registers exist).

    Exactness: the ESTIMATOR replays in SQL bit-for-bit — md5-hex
    register/rho arithmetic, dyadic 2^-rho sums, floor-quantized ln
    (all the q148 conventions); per-node ball estimates are
    floor-quantized to ``units`` before the cross-node sum, so the
    per-round totals are integer sums — order-free on any engine.

    Output: one row per round 0..rounds — (round, nodes,
    est_pairs, avg_ball) where est_pairs ~= N(round) and avg_ball =
    est_pairs / nodes (average ball size; N(r) flattening out marks
    the effective diameter).

    Memory shape: each round's 1-row snapshot is collected EAGERLY so
    the previous round's checkpointed register relation (n x 2^p rows)
    is released as soon as the next round materializes — a lazy
    snapshot union used to pin every round's registers in the block
    store simultaneously, which at sf30 under the documented 8g heap
    intermittently OOMed the round materialization (round-10 repeat
    protocol finding); rounds+1 driver-side rows is the only state
    that accumulates.
    """
    from patternly_spark.operators.sketches import hll_estimate, hll_registers

    u = int(units)
    fu = F.lit(float(u))
    e = edges.select(F.col(src).alias("s"), F.col(dst).alias("d"))
    if not directed:
        e = e.union(e.select(F.col("d").alias("s"), F.col("s").alias("d")))
    e = _pin_disk(e.filter(F.col("s") != F.col("d")).distinct(), eager=False)
    # the count materializes the pin in the same pass and sizes the rounds
    n_e = e.count()
    nodes = e.select(F.col("s").alias("node")).distinct()
    # lazy pin: the round's own EAGER 1-row snapshot collect (below)
    # materializes the register blocks in the same pass, instead of a
    # separate pin job per round (r11, guide §2.4).  The round-10
    # memory protocol is unchanged — the snapshot is still collected
    # eagerly each round, so registers materialize at exactly the same
    # point in the round as before, just without the duplicate pass.
    regs = _pin_disk(
        hll_registers(
            nodes.withColumn("__item", F.col("node").cast("string")),
            "__item",
            p=p,
            by="node",
        ),
        eager=False,
    )

    def snapshot(r: int, rel: DataFrame) -> tuple:
        est = hll_estimate(rel, p=p, by="node")
        row = est.agg(
            F.count(F.lit(1)).cast("long").alias("nodes"),
            (F.sum(F.floor(F.col("estimate") * fu).cast("long")).cast("double") / fu).alias(
                "est_pairs"
            ),
        ).collect()[0]
        # an edge set that is EMPTY after self-loop filtering has zero
        # nodes: keep the lazy-plan contract (a row with NULL avg_ball)
        # instead of a driver-side ZeroDivisionError
        if int(row["nodes"]) == 0:
            return (int(r), 0, 0.0, None)
        return (
            int(r),
            int(row["nodes"]),
            float(row["est_pairs"]),
            float(row["est_pairs"]) / float(row["nodes"]),
        )

    out = [snapshot(0, regs)]
    spark = edges.sparkSession
    with tuned_shuffle(spark, round_partitions(spark, n_e)):
        for r in range(1, int(rounds) + 1):
            pulled = e.join(regs, e["d"] == regs["node"]).select(
                F.col("s").alias("node"), "reg", "rho"
            )
            regs = _pin_disk(
                regs.unionByName(pulled)
                .groupBy("node", "reg")
                .agg(F.max("rho").alias("rho")),
                eager=False,
            )
            out.append(snapshot(r, regs))
    return local_rows(
        edges.sparkSession, out, "round int, nodes long, est_pairs double, avg_ball double"
    )


def degree_assortativity(
    edges: DataFrame,
    *,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Degree assortativity coefficient (Newman 2002): the Pearson
    correlation of endpoint degrees over all edges — do hubs attach to
    hubs (r > 0, social nets) or to leaves (r < 0, infra/biology)?
    The one-number structural fingerprint that says which dedup/
    partition strategies a graph will punish.

    Exactness: with each undirected edge contributing BOTH (du,dv) and
    (dv,du), the symmetric moment sums are n·Sxy−Sx·Sy-style INTEGER
    sums (degrees are longs), exact in any order; one final
    sqrt/divide.  Degenerate (zero-variance) graphs report NULL.

    Shape: degree table = one groupBy; two broadcast-able joins attach
    endpoint degrees; one 1-row aggregate.  No UDFs, no iteration.

    Output: 1 row — (m_edges, assortativity).
    """
    adj = (
        edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
        .filter(F.col("a") != F.col("b"))
    )
    und = (
        adj.unionAll(adj.select(F.col("b").alias("a"), F.col("a").alias("b")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    deg = und.groupBy(F.col("a").alias("node")).agg(
        F.count(F.lit(1)).cast("long").alias("deg")
    )
    da = deg.select(F.col("node").alias("a"), F.col("deg").alias("dx"))
    db = deg.select(F.col("node").alias("b"), F.col("deg").alias("dy"))
    ed = und.join(da, "a").join(db, "b")
    dxd = F.col("dx").cast("decimal(19,0)")
    dyd = F.col("dy").cast("decimal(19,0)")
    agg = ed.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(dxd * dyd).alias("sxy"),
        F.sum("dx").cast("long").alias("sx"),
        F.sum("dy").cast("long").alias("sy"),
        F.sum(dxd * dxd).alias("sxx"),
        F.sum(dyd * dyd).alias("syy"),
    )
    nd = F.col("n").cast("decimal(19,0)")
    sxd = F.col("sx").cast("decimal(19,0)")
    syd = F.col("sy").cast("decimal(19,0)")
    num = (nd * F.col("sxy") - sxd * syd).cast("double")
    varx = (nd * F.col("sxx") - sxd * sxd).cast("double")
    vary = (nd * F.col("syy") - syd * syd).cast("double")
    return agg.select(
        (F.col("n") / F.lit(2)).cast("long").alias("m_edges"),
        F.when(
            (varx > 0) & (vary > 0), num / (F.sqrt(varx) * F.sqrt(vary))
        ).alias("assortativity"),
    )


def adamic_adar_link_prediction(
    edges: DataFrame,
    *,
    src: str = "src",
    dst: str = "dst",
    min_common: int = 1,
    units: int = 1 << 20,
) -> DataFrame:
    """Adamic-Adar link prediction: for node pairs sharing neighbors,

        AA(u,v) = sum over z in N(u) & N(v) of 1 / ln(deg(z))

    — the common-neighbor score that DOWN-weights promiscuous hubs
    (a shared neighbor with degree 2 is strong evidence; one with
    degree 10^6 is noise).  The standard upgrade over raw counts and
    q211's Jaccard.

    Exactness: each 1/ln(deg) term is floor-quantized to ``units``
    (2^-20) BEFORE the per-pair sum — integer sums are order-free, so
    the score replays in SQL exactly (the repo's standard cross-engine
    ln treatment; ln's argument is an integer-valued double, identical
    in every engine).  Shared neighbors of degree 1 cannot exist
    (being shared implies deg >= 2), so ln > 0 always.

    Shape: identical wedge join to jaccard_link_prediction, with the
    center node's degree attached BEFORE the pair groupBy — still one
    wedge + one groupBy + integer sum.  Same hub-cap note at 100 TB.

    Output: (u, v, common, aa_score) with u < v.
    """
    u = int(units)
    fu = F.lit(float(u))
    adj = (
        edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
        .filter(F.col("a") != F.col("b"))
    )
    adj = (
        adj.unionAll(adj.select(F.col("b").alias("a"), F.col("a").alias("b")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    deg = adj.groupBy(F.col("a").alias("node")).agg(
        F.count(F.lit(1)).cast("long").alias("deg")
    )
    # deg-1 nodes can never be a SHARED neighbor (the wedge needs two
    # distinct endpoints) but ANSI mode evaluates the projection for
    # every row — keep ln's argument >= 2 explicitly
    term = F.when(
        F.col("deg") >= 2,
        F.floor(fu / F.log(F.col("deg").cast("double"))).cast("long"),
    ).otherwise(F.lit(0).cast("long"))
    center = deg.select(
        F.col("node").alias("n"), term.alias("__w")
    )
    l = adj.select(F.col("a").alias("n"), F.col("b").alias("u"))
    r = adj.select(F.col("a").alias("n"), F.col("b").alias("v"))
    pairs = (
        l.join(r, "n")
        .filter(F.col("u") < F.col("v"))
        .join(center, "n")
        .groupBy("u", "v")
        .agg(
            F.count(F.lit(1)).cast("long").alias("common"),
            F.sum("__w").cast("long").alias("__aa_u"),
        )
        .filter(F.col("common") >= int(min_common))
    )
    return pairs.select(
        "u", "v", "common", (F.col("__aa_u").cast("double") / fu).alias("aa_score")
    )


def partition_quality(
    edges: DataFrame,
    labels: DataFrame,
    *,
    src: str = "src",
    dst: str = "dst",
    node_col: str = "node",
    label_col: str = "label",
) -> DataFrame:
    """Per-community partition-quality readout — how good is a node
    labeling (q140 LPA communities, a metadata partition, a cluster
    assignment) as a GRAPH partition: Newman modularity contributions
    and conductance per community,

        q_contrib_c   = e_intra_c / m  -  (vol_c / 2m)^2
        conductance_c = cut_c / min(vol_c, 2m - vol_c)

    (global modularity Q = sum of q_contrib; low conductance = a
    well-separated community).  The missing evaluation half of the
    community-detection family: LPA/CC produce labels, this says
    whether the labels cut the graph well.

    Exactness: edges canonicalize to undirected-distinct (the q89
    convention); m, per-community intra/cut edge counts, node counts,
    and degree volumes are INTEGERS (one groupBy each); q_contrib and
    conductance are fixed double chains per community — plain SQL
    replays every row.  Unlabeled endpoints raise (a silent drop would
    skew every denominator); DUPLICATE node keys in ``labels`` raise
    too (a doubly-labeled node duplicates its edges through the
    endpoint joins and double-counts its degree in volume, silently
    skewing e_intra / cut / conductance / q_contrib — the guard
    mirrors the unlabeled-endpoint one).

    Shape: one canonical edge set, one labels broadcast-or-shuffle
    join per endpoint, two keyed integer aggregations, one 1-row m
    fold — no iteration, no driver-side state beyond m.  ALL the
    guards (m, unlabeled endpoints, duplicate labels) ride ONE
    piggybacked 1-row aggregate action (the connected_components
    checksum trick) — failure paths pay extra jobs only to sample the
    offending rows for the error message.

    Output: one row per community — (community, n_nodes, volume,
    e_intra, cut, conductance, q_contrib), ordered by community.
    Degenerate: a community spanning the WHOLE graph has cut 0 and
    conductance NULL (denominator 0), q_contrib = 1 - 1 = 0 for a
    single community over all of m.
    """
    e = _canon(
        edges.select(F.col(src).cast("long").alias("u"), F.col(dst).cast("long").alias("v"))
    ).localCheckpoint(eager=True)
    lab = labels.select(
        F.col(node_col).cast("long").alias("n"), F.col(label_col).alias("c")
    )
    lu = lab.select(F.col("n").alias("u"), F.col("c").alias("cu"))
    lv = lab.select(F.col("n").alias("v"), F.col("c").alias("cv"))
    j = e.join(lu, "u", "left").join(lv, "v", "left")
    # ONE guard action: m, unlabeled-endpoint count, and the duplicate-
    # label check piggyback on a single 3-way crossJoin of 1-row
    # aggregates (e is localCheckpointed, so the edge scan is not
    # repeated downstream).  The old shape spent three driver actions
    # (missing.limit(1).count(), e.count(), and no dup guard at all).
    stats = (
        e.agg(F.count(F.lit(1)).cast("long").alias("m"))
        .crossJoin(
            j.agg(
                F.coalesce(
                    F.sum(
                        F.when(
                            F.col("cu").isNull() | F.col("cv").isNull(), 1
                        ).otherwise(0)
                    ),
                    F.lit(0),
                )
                .cast("long")
                .alias("n_unlabeled")
            )
        )
        .crossJoin(
            lab.agg(
                F.count(F.lit(1)).cast("long").alias("n_lab"),
                F.countDistinct("n").cast("long").alias("n_lab_distinct"),
            )
        )
        .collect()[0]
    )
    if stats["n_lab"] != stats["n_lab_distinct"]:
        dups = (
            lab.groupBy("n")
            .agg(F.count(F.lit(1)).alias("__k"))
            .filter(F.col("__k") > 1)
            .limit(3)
            .collect()
        )
        raise ValueError(
            "partition_quality: duplicate node keys in labels "
            f"(e.g. {[r['n'] for r in dups]}); a doubly-labeled node would "
            "double-count its edges and degree — provide one label per node"
        )
    if stats["n_unlabeled"] > 0:
        missing = j.filter(F.col("cu").isNull() | F.col("cv").isNull())
        some = missing.select("u", "v").limit(3).collect()
        raise ValueError(
            f"partition_quality: unlabeled edge endpoints (e.g. {[tuple(r) for r in some]}); "
            "label every node that appears in edges"
        )
    m_row = stats["m"]
    if m_row == 0:
        raise ValueError("partition_quality: empty edge set")
    md = float(m_row)
    # per-community intra edges and cut edges (an inter-community edge
    # contributes 1 cut to EACH side) in ONE pass over j: each edge
    # explodes to its two endpoint communities with flags, one keyed
    # aggregate counts intra (lead endpoint only, so each intra edge
    # counts once) and cut (both endpoints) together.  The previous
    # shape evaluated j three times — intra, and twice under the cut
    # union — i.e. three label joins over the edge set where one
    # suffices (r11: guide §2.3/§2.4, one data-sized shuffle for the
    # edge-side aggregates).
    is_intra = (F.col("cu") == F.col("cv")).alias("is_intra")
    sides = j.select(
        F.explode(
            F.array(
                F.struct(F.col("cu").alias("community"), is_intra, F.lit(True).alias("lead")),
                F.struct(F.col("cv").alias("community"), is_intra, F.lit(False).alias("lead")),
            )
        ).alias("s")
    ).select("s.*")
    ic = sides.groupBy("community").agg(
        F.sum(F.when(F.col("is_intra") & F.col("lead"), 1).otherwise(0))
        .cast("long")
        .alias("e_intra"),
        F.sum(F.when(~F.col("is_intra"), 1).otherwise(0)).cast("long").alias("cut"),
    )
    # degree volume per community: degree counts both endpoints (same
    # explode trick — one scan of the pinned edge set, not two)
    deg = (
        e.select(F.explode(F.array(F.col("u"), F.col("v"))).alias("n"))
        .groupBy("n")
        .agg(F.count(F.lit(1)).cast("long").alias("d"))
    )
    vol = (
        deg.join(lab, "n")
        .groupBy(F.col("c").alias("community"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_nodes"),
            F.sum("d").cast("long").alias("volume"),
        )
    )
    out = vol.join(ic, "community", "left").na.fill({"e_intra": 0, "cut": 0})
    vold = F.col("volume").cast("double")
    denom = F.least(vold, F.lit(2.0 * md) - vold)
    conductance = F.when(denom > 0, F.col("cut").cast("double") / denom)
    q_contrib = (
        F.col("e_intra").cast("double") / F.lit(md)
        - (vold / F.lit(2.0 * md)) * (vold / F.lit(2.0 * md))
    )
    return out.select(
        "community",
        "n_nodes",
        "volume",
        "e_intra",
        "cut",
        conductance.alias("conductance"),
        q_contrib.alias("q_contrib"),
    ).orderBy("community")
