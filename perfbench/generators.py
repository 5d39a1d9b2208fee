"""Seeded input generators, one per workload.

Each generator is pure numpy: the same seed gives byte-identical inputs,
and nothing here touches Spark or the package under test.  The regimes are
fixed 3-symbol machines whose state is the last emitted symbol; the seed
drives which regime a series comes from, the walks and the noise.
"""

from __future__ import annotations

import numpy as np

K = 3  # alphabet size of every regime

# discover_fit
N_TRAIN = 300  # training series, split evenly over the three regimes
N_PLANTED = 15  # series from the fourth regime after the training ones
N_BULK = 20_000  # bulk series drawn from all four regimes
BULK_PLANTED = 0.04  # share of the bulk set from the fourth regime
LENGTH = 200  # series length
NOISE = 0.2  # standard deviation of the Gaussian noise on each level
N_ORACLE = 40  # bulk series whose verdicts are checked against llk_one

# stream of discover_fit's traced operations
WINDOW = 500
WINDOWS_PER_REGIME = 4

# graph_rounds
N_EDGES = 30_000
N_NODES = 20_000
N_SOURCES = 4  # BFS sources


def _last_symbol_machine(rows) -> np.ndarray:
    """Row-stochastic (K, K) emission matrix; state = last symbol."""
    pit = np.asarray(rows, dtype=np.float64)
    return pit / pit.sum(axis=1, keepdims=True)


def _cyclic(p: float, step: int) -> np.ndarray:
    rest = (1.0 - p) / (K - 1)
    pit = np.full((K, K), rest)
    for q in range(K):
        pit[q, (q + step) % K] = p
    return pit


# training regimes of discover_fit: uniform symbol marginals, so the
# equi-probable cut-points of the complex quantizer sit between levels
STICKY = _cyclic(0.8, 0)
FORWARD = _cyclic(0.8, 1)
BACKWARD = _cyclic(0.8, 2)
UNIFORM = _last_symbol_machine(np.ones((K, K)))
DISCOVER_REGIMES = (STICKY, FORWARD, BACKWARD)
PLANTED_REGIME = UNIFORM

# the stream of discover_fit's traced runs visits six distinct regimes, each new to the detector.  No
# regime is near-uniform: a model minted on one would explain every later
# regime with uniform marginals, and no boundary after it would mint.
STREAM_REGIMES = (
    _cyclic(0.85, 0),
    _cyclic(0.85, 1),
    _cyclic(0.85, 2),
    _last_symbol_machine([[1, 8, 1], [8, 1, 1], [1, 8, 1]]),  # 0<->1 flips
    _last_symbol_machine([[1, 1, 8], [1, 1, 8], [3, 3, 4]]),  # mostly 2
    _last_symbol_machine([[6, 1, 3], [6, 1, 3], [6, 1, 3]]),  # biased iid
)


def walk(pit: np.ndarray, n: int, length: int, rng: np.random.Generator) -> np.ndarray:
    """n symbol sequences of ``length`` from a last-symbol machine, as an
    (n, length) int8 matrix.  Vectorized across sequences."""
    cdf = np.cumsum(pit, axis=1)
    cdf[:, -1] = 1.0
    state = rng.integers(0, K, n)
    u = rng.random((n, length))
    out = np.empty((n, length), dtype=np.int8)
    for t in range(length):
        sym = (u[:, t, None] > cdf[state]).sum(axis=1)
        out[:, t] = sym
        state = sym
    return out


def discover_inputs(seed: int) -> dict:
    """Continuous series: level = symbol of a regime walk, plus Gaussian
    noise.  Rows are the training series (in a seeded regime order), then
    planted series from a fourth regime, then the bulk set.

    Returns ``values`` (n, LENGTH) float64, ``regime`` (n,) int8 with -1
    for planted series, and ``oracle`` (sorted bulk row indices whose
    verdicts are checked against the scalar llk); seq_id is the row
    index."""
    rng = np.random.default_rng([seed, 1])
    n_reg = len(DISCOVER_REGIMES)
    train = rng.permutation(np.repeat(np.arange(n_reg, dtype=np.int8), N_TRAIN // n_reg))
    planted = np.full(N_PLANTED, -1, dtype=np.int8)
    share = (1.0 - BULK_PLANTED) / n_reg
    bulk = rng.choice(np.arange(-1, n_reg, dtype=np.int8), N_BULK, p=[BULK_PLANTED] + [share] * n_reg)
    regime = np.concatenate([train, planted, bulk])
    syms = np.empty((len(regime), LENGTH), dtype=np.int8)
    for r, pit in enumerate((PLANTED_REGIME,) + DISCOVER_REGIMES, start=-1):
        idx = np.nonzero(regime == r)[0]
        syms[idx] = walk(pit, len(idx), LENGTH, rng)
    n_head = len(train) + N_PLANTED
    return {
        "values": syms + rng.normal(0.0, NOISE, syms.shape),
        "regime": regime,
        "oracle": np.sort(rng.choice(np.arange(n_head, len(regime)), N_ORACLE, replace=False)),
    }


def stream_inputs(seed: int) -> dict:
    """One symbol stream visiting each stream regime once, each for
    WINDOWS_PER_REGIME whole windows, so every regime boundary falls on a
    window boundary.  Returns ``symbols`` (int8) and the expected emergence
    windows ``boundaries``."""
    rng = np.random.default_rng([seed, 2])
    parts = [walk(pit, 1, WINDOWS_PER_REGIME * WINDOW, rng)[0] for pit in STREAM_REGIMES]
    return {
        "symbols": np.concatenate(parts),
        "boundaries": [i * WINDOWS_PER_REGIME for i in range(len(STREAM_REGIMES))],
    }


def graph_inputs(seed: int) -> dict:
    """Undirected edge list with log-uniform endpoints in [1, N_NODES): low
    base ids are hubs, so degrees are heavily skewed.  Self-loops and
    duplicate edges are kept; the operators drop them.

    The graph's shape is the same for every seed; the seed relabels the
    nodes (a random permutation), orients the edges and orders them.  So
    every seed does the same number of core and BFS rounds, while ids,
    partitioning and the star rounds of connected components change.  The
    BFS sources are fixed nodes of the shape, under their new ids."""
    shape = np.random.default_rng(0)
    log_n = np.log(N_NODES)
    src = np.floor(np.exp(shape.random(N_EDGES) * log_n)).astype(np.int64)
    dst = np.floor(np.exp(shape.random(N_EDGES) * log_n)).astype(np.int64)
    sources = shape.choice(np.unique(np.concatenate([src, dst])), N_SOURCES, replace=False)

    rng = np.random.default_rng([seed, 3])
    relabel = np.concatenate([[0], 1 + rng.permutation(N_NODES - 1)])
    order = rng.permutation(N_EDGES)
    src, dst = relabel[src[order]], relabel[dst[order]]
    flip = rng.random(N_EDGES) < 0.5
    src, dst = np.where(flip, dst, src), np.where(flip, src, dst)
    return {"src": src, "dst": dst, "sources": np.sort(relabel[sources])}
