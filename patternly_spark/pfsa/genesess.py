"""GenESeSS — PFSA structure + parameter inference (reference operator X1).

Reimplements the published algorithm (``tex/ms.tex:299-338``; invoked by the
reference at ``patternly/detection.py:372-393``) in pure numpy:

  Step 1  approximate epsilon-synchronizing sequence: build the derivative
          heap {phi_hat^x_y : |y| <= L}, L = ceil(log_|S| 1/eps); pick the
          most frequent subsequence whose follower distribution is a vertex
          of the heap's convex hull.
  Step 2  BFS state discovery: states carry a sequence identifier and its
          follower distribution; delta(q,s) merges into an existing state
          when the inf-norm distance < eps, else mints a new state; finally
          restrict to the largest strongly-connected subgraph.
  Step 3  transition probabilities: one pass over the data counting
          (state, symbol) visits; rows normalized (light Laplace smoothing
          so fitted models assign nonzero mass to every symbol).

Two kernels do all the counting.  The derivative heap is a table of n-gram
follower counts: ``ngram_counts`` builds one (k**l, k) table per context
length l <= L, with rolling base-k codes and one ``bincount`` per length.
Step 3 is ``walk_counts``: every sequence walks the fitted structure, all
of a block in lockstep.  Both run over blocks of whole sequences, so their
temporaries stay bounded, and their counts add up across blocks and Spark
partitions.  Every fit path is the two kernels plus one finish (``_fit``):

  * ``genesess`` runs them in one process: on the driver (the driver-sized
    fit, the streaming mints) and in ``fit_cluster_pfsas``, which fits one
    PFSA per cluster with ``applyInPandas`` over ``groupBy('cluster')``
    (SURVEY §4.3.2);
  * ``genesess_distributed`` runs each kernel as one ``mapInPandas`` pass
    whose partitions sum it over their Arrow batches; the driver sums the
    partitions' arrays.

Validation is by simulation-recovery (SURVEY §5.2 — the M2.cfg pattern),
not bit-parity with the closed-source zedsuite binary.
"""

from __future__ import annotations

import math
from itertools import product
from typing import Callable, Iterable, Iterator, Sequence

import numpy as np
from pyspark.sql import DataFrame

from patternly_spark.pfsa.llk import _pack
from patternly_spark.pfsa.model import PFSA

_MAX_STATES = 64
_MIN_COUNT = 5
_MAX_CONTEXTS = 4096  # bounds the n-gram space: k**L contexts at most
_MAX_ALPHABET = 256  # patterns are bytes
_BLOCK_SYMBOLS = 1 << 15  # padded symbols per kernel block


def _context_length(k: int, eps: float) -> int:
    """L = ceil(log_k 1/eps) (the ms.tex GenL line), capped at 8 (longer
    prefixes add nothing at eps >= 1e-5) and at k**L <= _MAX_CONTEXTS."""
    if k > _MAX_ALPHABET:
        raise ValueError(f"genesess: at most {_MAX_ALPHABET} symbols, got alphabet_size {k}")
    L = min(max(1, math.ceil(math.log(1.0 / max(eps, 1e-9), k))), 8)
    while L > 1 and k**L > _MAX_CONTEXTS:
        L -= 1
    return L


def _blocks(seqs: list) -> Iterator[list]:
    """The sequences in ascending length, cut into runs whose padded area
    (count x longest) stays within _BLOCK_SYMBOLS; a longer sequence is a
    run of its own, and a None one (a null sequence, as good as empty) is
    left out.  Counts summed over the runs do not depend on order."""
    seqs = [s for s in seqs if s is not None]
    lens = np.fromiter(map(len, seqs), dtype=np.int64, count=len(seqs))
    block: list = []
    for i in np.argsort(lens, kind="stable"):
        if block and (len(block) + 1) * lens[i] > _BLOCK_SYMBOLS:
            yield block
            block = []
        block.append(seqs[i])
    if block:
        yield block


def ngram_counts(seqs: Sequence[Sequence[int]], k: int, L: int) -> list[np.ndarray]:
    """Follower counts of every context of length l = 0..L: row code(y),
    column s of the (k**l, k) int64 table l counts the positions inside one
    sequence where the l symbols y are followed by s.  code(y) reads y as a
    base-k number, first symbol most significant.  Raises ValueError for a
    symbol outside [0, k)."""
    tables = [np.zeros(k ** (l + 1), dtype=np.int64) for l in range(L + 1)]
    for block in _blocks(seqs):
        lens = np.fromiter(map(len, block), dtype=np.int64, count=len(block))
        x = np.concatenate(block).astype(np.int64)
        if x.size == 0:
            continue
        lo, hi = int(x.min()), int(x.max())
        if lo < 0 or hi >= k:
            raise ValueError(f"genesess: symbols must be in [0, {k}), got {lo if lo < 0 else hi}")
        # code = (context of length l, next symbol) as one base-k number;
        # it is garbage where the context would start before its sequence,
        # i.e. at a sequence's first l positions, which ``valid`` drops
        starts = np.cumsum(lens) - lens
        valid = np.ones(x.size, dtype=bool)
        code = x.copy()
        tables[0] += np.bincount(code, minlength=k)
        for l in range(1, L + 1):
            code[l:] += x[:-l] * k**l
            valid[starts[lens >= l] + l - 1] = False
            tables[l] += np.bincount(code[valid], minlength=k ** (l + 1))
    return [t.reshape(-1, k) for t in tables]


def walk_counts(seqs: Sequence[Sequence[int]], connx: np.ndarray) -> np.ndarray:
    """Step 3's (m, k) int64 (state, symbol) visit counts: every sequence
    walks ``connx`` from state 0, all of a block in lockstep.  Symbols must
    lie in [0, k), as ``ngram_counts`` checks."""
    m, k = connx.shape
    # flat (state, symbol) -> next state's row, over k + 1 columns: the pad
    # past each sequence's end is column k, a self-loop
    width = k + 1
    nxt = np.hstack([connx, np.arange(m)[:, None]]).astype(np.int64).ravel() * width
    counts = np.zeros(m * width, dtype=np.int64)
    for block in _blocks(seqs):
        # row t: the block's symbols at time t, turned in place into their
        # flat (state, symbol) index
        at = np.ascontiguousarray(_pack(block, k)[0].T, dtype=np.int64)
        row = np.zeros(len(block), dtype=np.int64)
        for step in at:
            step += row
            row = nxt[step]
        counts += np.bincount(at.ravel(), minlength=m * width)
    return counts.reshape(m, width)[:, :k]


def _fit(
    tables: list[np.ndarray],
    walk: Callable[[np.ndarray], np.ndarray],
    k: int,
    eps: float,
    pfsa_id: int,
    smoothing: float,
) -> PFSA:
    """Steps 1-3 from the ``ngram_counts`` tables; ``walk(connx)`` returns
    the Step 3 ``walk_counts`` of the data."""
    t0 = tables[0][0]
    total_len = int(t0.sum())
    if total_len == 0:
        raise ValueError("genesess: no non-empty sequences")
    sym_frq = t0 / total_len

    def get_counts(pattern: bytes) -> np.ndarray:
        code = 0
        for s in pattern:
            code = code * k + s
        return tables[len(pattern)][code]

    x0, connx, kept_dists, degenerate = _structure_from_counts(
        get_counts, k, eps, len(tables) - 1, sym_frq, total_len
    )
    if degenerate:
        pit = ((sym_frq + 1e-12) / (sym_frq + 1e-12).sum()).reshape(1, k)
        ann_err = 0.0
    else:
        counts = walk(connx)
        pit = (counts + smoothing) / (counts + smoothing).sum(axis=1, keepdims=True)
        ann_err = float(np.mean([np.max(np.abs(pit[q] - kd)) for q, kd in enumerate(kept_dists)]))
    return PFSA(
        pitilde=pit, connx=connx, pfsa_id=pfsa_id, ann_err=ann_err,
        mrg_eps=eps, syn_str=list(x0), sym_frq=sym_frq,
    )


def _hull_vertices(points: np.ndarray, seed: int = 42) -> np.ndarray:
    """Indices of approximate convex-hull vertices of distribution points
    (rows on the probability simplex).  Exact for |Sigma|=2 (1-D hull);
    for larger alphabets uses a fixed direction set (coordinate axes +
    seeded random directions) — adequate because the selection is only a
    heuristic for a well-synchronizing prefix."""
    n, k = points.shape
    if n == 1:
        return np.array([0])
    dirs = []
    for j in range(k):
        e = np.zeros(k)
        e[j] = 1.0
        dirs.append(e)
        dirs.append(-e)
    rng = np.random.default_rng(seed)
    for _ in range(4 * k):
        v = rng.normal(size=k)
        dirs.append(v / np.linalg.norm(v))
    verts: set[int] = set()
    for d in dirs:
        verts.add(int(np.argmax(points @ d)))
    return np.array(sorted(verts))


def _tarjan_scc(n: int, edges: dict[int, set[int]]) -> list[list[int]]:
    """Iterative Tarjan SCC (standard — the reference's stack-pop quirk at
    ``patternly/_utils.py:157-160`` is consciously NOT replicated; SURVEY
    §2.5 A7 flags it as an internal bug)."""
    index = [0]
    idx = [-1] * n
    low = [0] * n
    on_stack = [False] * n
    stack: list[int] = []
    sccs: list[list[int]] = []

    for root in range(n):
        if idx[root] != -1:
            continue
        work = [(root, iter(sorted(edges.get(root, ()))))]
        idx[root] = low[root] = index[0]
        index[0] += 1
        stack.append(root)
        on_stack[root] = True
        while work:
            v, it = work[-1]
            advanced = False
            for w in it:
                if idx[w] == -1:
                    idx[w] = low[w] = index[0]
                    index[0] += 1
                    stack.append(w)
                    on_stack[w] = True
                    work.append((w, iter(sorted(edges.get(w, ())))))
                    advanced = True
                    break
                elif on_stack[w]:
                    low[v] = min(low[v], idx[w])
            if advanced:
                continue
            work.pop()
            if work:
                pv = work[-1][0]
                low[pv] = min(low[pv], low[v])
            if low[v] == idx[v]:
                comp = []
                while True:
                    w = stack.pop()
                    on_stack[w] = False
                    comp.append(w)
                    if w == v:
                        break
                sccs.append(comp)
    return sccs


def genesess(
    sequences: Iterable[Sequence[int]],
    eps: float = 0.1,
    alphabet_size: int | None = None,
    pfsa_id: int = 0,
    smoothing: float = 0.5,
) -> PFSA:
    """Infer a PFSA from symbol sequences (a None one counts as empty).
    Deterministic given input order."""
    seqs = list(sequences)
    if alphabet_size is None:
        alphabet_size = max((int(np.max(s)) for s in seqs if s is not None and len(s)), default=0) + 1
    k = max(alphabet_size, 2)
    tables = ngram_counts(seqs, k, _context_length(k, eps))
    return _fit(tables, lambda connx: walk_counts(seqs, connx), k, eps, pfsa_id, smoothing)


def _structure_from_counts(get_counts, k: int, eps: float, L: int, sym_frq: np.ndarray, total_len: int):
    """Steps 1-2 of GenESeSS driven purely by a follower-count oracle
    ``get_counts(pattern: bytes) -> np.ndarray(k)`` over patterns of
    length <= L, a lookup in the ``ngram_counts`` tables.  Returns
    (sync_string, connx, per-state follower dists, degenerate_flag)."""

    def supported(length: int) -> list[tuple[bytes, np.ndarray, int]]:
        # (pattern, follower dist, support) of each pattern of this length
        # seen >= _MIN_COUNT times, in lexicographic order
        out = []
        for tup in product(range(k), repeat=length):
            c = get_counts(bytes(tup))
            tot = int(c.sum())
            if tot >= _MIN_COUNT:
                out.append((bytes(tup), c / tot, tot))
        return out

    by_length = [supported(length) for length in range(L + 1)]

    # ---- Step 1: derivative heap over subsequences of length <= L -------
    heap = [entry for level in by_length for entry in level]
    if not heap:
        heap = [(b"", sym_frq.copy(), total_len)]
    pats, dists, freqs = zip(*heap)

    pts = np.vstack(dists)
    verts = _hull_vertices(pts)
    # vertex with the highest frequency in x (ms.tex GenSyncSeq line)
    best = max(verts, key=lambda i: (freqs[i], -len(pats[i])))
    x0 = pats[best]

    # ---- Step 2: state discovery over the full L-context set ------------
    # Contexts longer than L are statistically indistinguishable at
    # resolution eps (that is what L = ceil(log_|Sigma| 1/eps) encodes, the
    # ms.tex GenL line), so the state space is built from ALL length-L
    # contexts at once: cluster contexts whose follower distributions are
    # within eps in inf-norm (greedy, by descending support — merging into
    # the count-weighted state mean), then derive delta by count-weighted
    # majority over context successors.  Unlike a greedy BFS over growing
    # sequence identifiers, this construction is total and keeps the graph
    # recurrent, so the strongly-connected restriction does not degenerate.
    # Without a supported length-L context, fall back to the longest
    # length that has one.
    Lc = next((length for length in range(L, 0, -1) if by_length[length]), 0)
    if not Lc:
        # degenerate input: single uniform-ish state from global frequencies
        return x0, np.zeros((1, k), dtype=np.int32), [sym_frq.copy()], True
    ctxs, cdists, ccounts = zip(*by_length[Lc])

    # greedy eps-clustering of contexts, seeded by the sync context's
    # cluster; order by descending support for determinism
    order = sorted(range(len(ctxs)), key=lambda i: (-ccounts[i], ctxs[i]))
    ctx_state: dict[bytes, int] = {}
    state_sum: list[np.ndarray] = []  # count-weighted sums of follower dists
    state_cnt: list[int] = []
    for i in order:
        d = cdists[i]
        jbest, gbest = -1, np.inf
        for j in range(len(state_sum)):
            g = float(np.max(np.abs(d - state_sum[j] / state_cnt[j])))
            if g < gbest:
                jbest, gbest = j, g
        if jbest >= 0 and (gbest < eps or len(state_sum) >= _MAX_STATES):
            ctx_state[ctxs[i]] = jbest
            state_sum[jbest] = state_sum[jbest] + d * ccounts[i]
            state_cnt[jbest] += ccounts[i]
        else:
            ctx_state[ctxs[i]] = len(state_sum)
            state_sum.append(d * ccounts[i])
            state_cnt.append(ccounts[i])
    n_states0 = len(state_sum)
    state_dists = [state_sum[j] / state_cnt[j] for j in range(n_states0)]

    # transition structure: count-weighted majority vote over successors
    votes: dict[tuple[int, int], dict[int, float]] = {}
    for i, y in enumerate(ctxs):
        q = ctx_state[y]
        for sigma in range(k):
            succ = (y + bytes([sigma]))[-Lc:]
            if succ not in ctx_state:
                continue
            w = ccounts[i] * cdists[i][sigma]
            votes.setdefault((q, sigma), {}).setdefault(ctx_state[succ], 0.0)
            votes[(q, sigma)][ctx_state[succ]] += w
    delta: dict[tuple[int, int], int] = {}
    fallback = int(np.argmax(state_cnt))
    for q in range(n_states0):
        for sigma in range(k):
            v = votes.get((q, sigma))
            if v:
                delta[(q, sigma)] = max(sorted(v), key=lambda s: v[s])
            else:
                delta[(q, sigma)] = fallback

    # ---- largest strongly-connected subgraph ----------------------------
    adj: dict[int, set[int]] = {q: set() for q in range(n_states0)}
    for (q, _s), q2 in delta.items():
        adj[q].add(q2)
    sccs = _tarjan_scc(n_states0, adj)
    keep = max(sccs, key=len)
    keep_sorted = sorted(keep)
    remap = {old: new for new, old in enumerate(keep_sorted)}
    kept_dists = [state_dists[q] for q in keep_sorted]
    m = len(keep_sorted)
    connx = np.zeros((m, k), dtype=np.int32)
    for new_q, old_q in enumerate(keep_sorted):
        for sigma in range(k):
            tgt = delta[(old_q, sigma)]
            if tgt in remap:
                connx[new_q, sigma] = remap[tgt]
            else:
                # edge leaves the SCC: redirect to the in-SCC state whose
                # follower distribution is nearest the dangling target's
                d = state_dists[tgt]
                j = int(np.argmin([np.max(np.abs(d - kd)) for kd in kept_dists]))
                connx[new_q, sigma] = j

    return x0, connx, kept_dists, False


_FIT_SCHEMA = (
    "cluster int not null, pfsa_id int not null, ann_err double, mrg_eps double, syn_str array<int>,"
    " sym_frq array<double>, pitilde array<array<double>> not null, connx array<array<int>> not null"
)


def fit_cluster_pfsas(
    seq_df: DataFrame,
    eps: float = 0.1,
    alphabet_size: int | None = None,
    *,
    cluster_col: str = "cluster",
    seq_col: str = "symbols",
    id_col: str = "seq_id",
) -> DataFrame:
    """One GenESeSS fit per cluster (SURVEY X1 Spark mapping).

    groupBy(cluster).applyInPandas — each group's sequences are sorted by
    seq_id inside the UDF so the fit is deterministic under any shuffle
    partitioning.  Returns a PFSA-library DataFrame with a ``cluster``
    column; pfsa_id == cluster label.
    """

    def fit(pdf):
        import pandas as pd

        pdf = pdf.sort_values(id_col)
        cluster = int(pdf[cluster_col].iloc[0])
        model = genesess(pdf[seq_col].tolist(), eps=eps, alphabet_size=alphabet_size, pfsa_id=cluster)
        return pd.DataFrame([{"cluster": cluster, **model.to_dict()}])

    return seq_df.select(cluster_col, id_col, seq_col).groupBy(cluster_col).applyInPandas(fit, schema=_FIT_SCHEMA)


def _partition_sums(
    seq_df: DataFrame, seq_col: str, size: int, kernel: Callable[[list], np.ndarray]
) -> np.ndarray:
    """Sum of ``kernel(sequences)``, a flat int64 array of ``size``, over
    every Arrow batch of ``seq_df``: one ``mapInPandas`` job whose tasks
    each sum their partition's batches, then the driver sums the tasks'
    arrays.  A ValueError the kernel raises in a task is raised again on
    the driver."""
    import pandas as pd

    def partition(batches):
        acc = np.zeros(size, dtype=np.int64)
        try:
            for pdf in batches:
                acc += kernel(pdf[seq_col].tolist())
        except ValueError as e:
            yield pd.DataFrame({"flat": [[]], "error": [str(e)]})
            return
        yield pd.DataFrame({"flat": [acc.tolist()], "error": [None]})

    total = np.zeros(size, dtype=np.int64)
    schema = "flat array<bigint>, error string"
    for r in seq_df.select(seq_col).mapInPandas(partition, schema=schema).collect():
        if r["error"] is not None:
            raise ValueError(r["error"])
        total += np.asarray(r["flat"], dtype=np.int64)
    return total


def genesess_distributed(
    seq_df,
    eps: float = 0.1,
    alphabet_size: int | None = None,
    pfsa_id: int = 0,
    smoothing: float = 0.5,
    seq_col: str = "symbols",
) -> PFSA:
    """GenESeSS over a (seq_id, symbols) DataFrame without collecting the
    sequences (SURVEY §4.3.2 fallback for clusters that exceed one
    executor's memory).

    Two Spark passes, each one shuffle-free ``mapInPandas`` job in which
    every task sums a kernel over its partition's Arrow batches into one
    flat array, and the driver sums the tasks' arrays:
      1. ``ngram_counts`` — the context tables, sum of k**(l+1) over
         l <= L entries (<= 4096 x k per length) regardless of data size;
      2. ``walk_counts`` — the (|Q| x k) visit counts through the fitted
         structure, which the task closure carries.
    Between and after them the driver runs the same finish (``_fit``) as
    the in-memory path, so both paths produce the same machine from the
    same data.
    """
    from pyspark.sql import functions as F

    if alphabet_size is None:
        hi = seq_df.select(F.max(F.array_max(F.col(seq_col).cast("array<int>")))).first()[0]
        alphabet_size = (hi or 0) + 1
    k = max(int(alphabet_size), 2)
    L = _context_length(k, eps)
    sizes = [k ** (l + 1) for l in range(L + 1)]
    flat = _partition_sums(
        seq_df, seq_col, sum(sizes), lambda seqs: np.concatenate(ngram_counts(seqs, k, L), axis=None)
    )
    tables = [t.reshape(-1, k) for t in np.split(flat, np.cumsum(sizes)[:-1])]

    def walk(connx: np.ndarray) -> np.ndarray:
        counts = _partition_sums(seq_df, seq_col, connx.size, lambda seqs: walk_counts(seqs, connx).ravel())
        return counts.reshape(connx.shape)

    return _fit(tables, walk, k, eps, pfsa_id, smoothing)
