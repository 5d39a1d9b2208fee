"""MLlib's k-means, replayed in numpy on a driver-sized feature matrix.

``kmeans_parallel(X, k, seed)`` returns the labels and centers that
``pyspark.ml.clustering.KMeans(k=k, seed=seed, initMode="k-means||",
maxIter=50)`` fits and predicts on the rows of ``X`` read as one slice in
row order (Spark 4.1.2, Scala 2.13, dense vectors), without a Spark job.
Each step is MLlib's, in MLlib's floating-point order:

- Init, ``mllib.clustering.KMeans.initKMeansParallel`` (k-means||,
  Bahmani et al., VLDB 2012): the first center from ``RDD.takeSample``
  (a Bernoulli or gap sampler); two rounds that keep each point with
  probability 2 k cost / total cost; the distinct candidates, and when
  there are more than k of them, their ``countByValue`` weights and
  ``LocalKMeans.kMeansPlusPlus`` (seed 0, up to 30 Lloyd rounds).
- Lloyd, ``runAlgorithmWithWeight``: up to 50 rounds of ``findClosest``
  with the center statistics (d(c_i, c_j)**2 / 4 bounds), the centroid
  as sum * (1 / count), converged when no center moved more than the
  tolerance 1e-4 (squared distance <= 1e-8).
- Labels: ``KMeansModel.predict``, ``findClosest`` with the statistics
  of the final centers.
- RNGs: ``java.util.Random`` and Spark's ``XORShiftRandom``, whose seed
  is hashed with Scala's ``MurmurHash3.bytesHash``.

Squared distances of two dense vectors are ``Vectors.sqdist`` (4.1.2's
``fastSquaredDistance`` takes no dot-product shortcut for them), and
every norm, distance and sum runs over the columns or rows in order, as
the JVM's scalar loops and ``VectorBLAS``'s scalar tail (a 4-wide row is
under its 8 AVX-512 lanes) do.

ML's ``KMeans`` takes its block solver instead when its
``preferBlockSolver`` rule holds.  That rule sums the indices, not the
counts, of the nonzero columns, so it holds for fewer rows than feature
columns (three SLD rows or fewer).  The replay runs the row solver's
arithmetic there too; the solvers differ only in distance rounding, so
a point within rounding of equidistant may take the other center.  On
such inputs, when k-means|| finds fewer distinct candidates than k, the
block solver fails (ArrayIndexOutOfBoundsException in
``KMeansAggregator``), and the replay clusters around the candidates it
has, as the row solver does: it may return fewer than k centers.

All state is local to the call, so fits may run it in threads.
"""

from __future__ import annotations

import math

import numpy as np

MAX_ITER = 50
TOL = 1e-4
INIT_STEPS = 2

_M32 = (1 << 32) - 1
_M48 = (1 << 48) - 1
_M64 = (1 << 64) - 1


def _i32(x: int) -> int:
    x &= _M32
    return x - (1 << 32) if x >> 31 else x


class _JavaRandom:
    """``java.util.Random``: the 48-bit linear congruential generator."""

    def __init__(self, seed: int) -> None:
        self._seed = (seed ^ 0x5DEECE66D) & _M48

    def next(self, bits: int) -> int:
        self._seed = (self._seed * 0x5DEECE66D + 0xB) & _M48
        return _i32(self._seed >> (48 - bits))

    def next_int(self, bound: int | None = None) -> int:
        if bound is None:
            return self.next(32)
        r = self.next(31)
        m = bound - 1
        if bound & m == 0:
            return _i32((bound * r) >> 31)
        u = r
        while True:  # rejects the top partial range, in 32-bit arithmetic
            r = u % bound
            if _i32(u - r + m) >= 0:
                return r
            u = self.next(31)

    def next_long(self) -> int:
        v = ((self.next(32) << 32) + self.next(32)) & _M64
        return v - (1 << 64) if v >> 63 else v

    def next_double(self) -> float:
        return ((self.next(26) << 27) + self.next(27)) * 2.0**-53


def _rotl(x: int, r: int) -> int:
    return ((x << r) | (x >> (32 - r))) & _M32


def _mix_last(h: int, k: int) -> int:
    k = _rotl((k * 0xCC9E2D51) & _M32, 15)
    return h ^ ((k * 0x1B873593) & _M32)


def _bytes_hash(data: bytes, seed: int) -> int:
    """Scala's ``MurmurHash3.bytesHash`` of a multiple of 4 bytes."""
    h = seed & _M32
    for i in range(0, len(data), 4):
        h = _rotl(_mix_last(h, int.from_bytes(data[i:i + 4], "little")), 13)
        h = (h * 5 + 0xE6546B64) & _M32
    h ^= len(data)
    h ^= h >> 16
    h = (h * 0x85EBCA6B) & _M32
    h ^= h >> 13
    h = (h * 0xC2B2AE35) & _M32
    return h ^ (h >> 16)


class _XORShiftRandom(_JavaRandom):
    """Spark's ``XORShiftRandom``: ``java.util.Random`` with its
    ``next(bits)`` replaced by a 64-bit xorshift, its seed hashed."""

    def __init__(self, seed: int) -> None:
        data = (seed & _M64).to_bytes(8, "big")
        low = _bytes_hash(data, 0x3C074A61)
        self._seed = (_bytes_hash(data, low) << 32) | low

    def next(self, bits: int) -> int:
        s = self._seed
        s ^= (s << 21) & _M64
        s ^= s >> 35
        s ^= (s << 4) & _M64
        self._seed = s
        return _i32(s & ((1 << bits) - 1))


def _bernoulli_sample(n: int, fraction: float, seed: int) -> list[int]:
    """Row indices ``RDD.sample(false, fraction, seed)`` keeps from one
    partition of n rows (``BernoulliSampler`` seeded by the partition's
    ``java.util.Random(seed).nextLong()``)."""
    rng = _XORShiftRandom(_JavaRandom(seed).next_long())
    if fraction <= 0.0:
        return []
    if fraction >= 1.0:
        return list(range(n))
    if fraction > 0.4:
        return [i for i in range(n) if rng.next_double() <= fraction]
    # GapSampling: skip a geometric number of rows before each kept one
    lnq = math.log1p(-fraction)
    kept, i = [], 0
    while n:
        u = max(rng.next_double(), 5e-11)
        i += min(int(math.log(u) / lnq), (1 << 31) - 1)
        if i >= n:
            break
        kept.append(i)
        i += 1
    return kept


def _take_one(n: int, seed: int) -> int:
    """The row ``RDD.takeSample(false, 1, seed)`` returns from one
    partition of n rows."""
    if n == 0:
        raise ValueError("kmeans_parallel: no rows to sample")
    rand = _JavaRandom(seed)
    if n == 1:
        return 0
    # SamplingUtils.computeFractionForSampleSize -> BinomialBounds.getUpperBound
    fraction = 1 / n
    gamma = -math.log(1e-4) / n
    fraction = min(1.0, max(1e-10, fraction + gamma + math.sqrt(gamma * gamma + 2 * gamma * fraction)))
    kept = _bernoulli_sample(n, fraction, rand.next_int())
    while not kept:
        kept = _bernoulli_sample(n, fraction, rand.next_int())
    for i in range(len(kept) - 1, 0, -1):  # Utils.randomizeInPlace
        j = rand.next_int(i + 1)
        kept[i], kept[j] = kept[j], kept[i]
    return kept[0]


def _dot(X: np.ndarray, c: np.ndarray) -> np.ndarray:
    """Row dots with c, one column at a time (a scalar ``ddot``)."""
    s = X[:, 0] * c[..., 0]
    for j in range(1, X.shape[1]):
        s = s + X[:, j] * c[..., j]
    return s


def _sqdist(X: np.ndarray, c: np.ndarray) -> np.ndarray:
    """``Vectors.sqdist`` of each row of X and c."""
    d = X - c
    return _dot(d, d)


def _norms(X: np.ndarray) -> np.ndarray:
    """``Vectors.norm(v, 2.0)`` of each row."""
    return np.sqrt(_dot(X, X))


def _closest(C: np.ndarray, X: np.ndarray, xn: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """``DistanceMeasure.findClosest(centers, point)``: the first center
    of least squared distance, skipping those the norms rule out."""
    best = np.full(len(X), np.inf)
    idx = np.zeros(len(X), dtype=np.int64)
    for i, cn in enumerate(_norms(C)):
        lower = (cn - xn) ** 2
        d = _sqdist(X, C[i])
        take = (lower < best) & (d < best)
        best = np.where(take, d, best)
        idx[take] = i
    return idx, best


def _closest_stats(C: np.ndarray, X: np.ndarray, xn: np.ndarray) -> np.ndarray:
    """``EuclideanDistanceMeasure.findClosest(centers, statistics,
    point)``: the scan above, cut short by the triangle inequality with
    stats[i][j] = d(c_i, c_j)**2 / 4 and stats[i][i] = min_j stats[i][j]."""
    k = len(C)
    idx = np.zeros(len(X), dtype=np.int64)
    if k == 1:
        return idx
    dist = np.sqrt(np.array([_sqdist(C, c) for c in C]))
    stats = 0.25 * dist * dist
    np.fill_diagonal(stats, np.inf)
    np.fill_diagonal(stats, stats.min(axis=1))
    cn = _norms(C)
    best = _sqdist(X, C[0])
    done = best < stats[0, 0]
    for i in range(1, k):
        d = _sqdist(X, C[i])
        look = ~done & ((cn[i] - xn) ** 2 < best) & (stats[i, idx] < best)
        early = look & (d < stats[i, i])
        take = look & (early | (d < best))
        best = np.where(take, d, best)
        idx[take] = i
        done |= early
    return idx


def _cluster_sums(X: np.ndarray, labels: np.ndarray, k: int) -> tuple[np.ndarray, np.ndarray]:
    """Per-label row sums, accumulated in row order, and row counts."""
    sums = np.zeros((k, X.shape[1]))
    counts = np.bincount(labels, minlength=k).astype(float)
    for j in np.flatnonzero(counts):
        sums[j] = np.cumsum(X[labels == j], axis=0)[-1]
    return sums, counts


def _first_reach(steps: np.ndarray, r: float) -> int:
    """How many of ``steps`` the JVM loop ``while (j < n && cum < r)
    { cum += steps(j); j += 1 }`` adds."""
    before = np.concatenate(([0.0], np.cumsum(steps)[:-1]))
    hit = np.flatnonzero(before >= r)
    return int(hit[0]) if hit.size else len(steps)


def _kmeans_pp(P: np.ndarray, w: np.ndarray, k: int) -> np.ndarray:
    """``LocalKMeans.kMeansPlusPlus(0, P, w, k, 30)``: weighted k-means++
    seeding, then weighted Lloyd rounds until no assignment moves."""
    rand = _JavaRandom(0)
    m = len(P)
    centers = np.empty((k, P.shape[1]))
    r = rand.next_double() * np.cumsum(w)[-1]
    centers[0] = P[_first_reach(w, r) - 1]
    cost = _sqdist(P, centers[0])
    for i in range(1, k):
        r = rand.next_double() * np.cumsum(cost * w)[-1]
        j = _first_reach(w * cost, r)
        centers[i] = P[max(j - 1, 0)]
        cost = np.minimum(_sqdist(P, centers[i]), cost)
    pn = _norms(P)
    old = np.full(m, -1)
    for _ in range(30):
        idx = _closest(centers, P, pn)[0]
        sums = _cluster_sums(w[:, None] * P, idx, k)[0]
        counts = np.bincount(idx, weights=w, minlength=k)  # whole numbers: exact
        moved = bool((idx != old).any())
        old = idx
        for j in range(k):
            if counts[j] == 0.0:
                centers[j] = P[rand.next_int(m)]
            else:
                centers[j] = sums[j] * (1.0 / counts[j])
        if not moved:
            break
    return centers


def _init(X: np.ndarray, xn: np.ndarray, k: int, seed: int) -> np.ndarray:
    """``KMeans.initKMeansParallel`` on one partition."""
    n = len(X)
    seed32 = _XORShiftRandom(seed).next_int()
    new = X[[_take_one(n, seed32)]]
    found = [new[0]]
    costs = np.full(n, np.inf)
    for step in range(INIT_STEPS):
        if len(new):
            costs = np.minimum(_closest(new, X, xn)[1], costs)
        total = np.cumsum(costs)[-1]
        rand = _XORShiftRandom(seed32 ^ (step << 16))
        u = np.array([rand.next_double() for _ in range(n)])
        with np.errstate(divide="ignore", invalid="ignore"):
            new = X[u < 2.0 * costs * k / total]
        found.extend(new)
    distinct: dict[bytes, np.ndarray] = {}  # Vector equality: the same bits
    for c in found:
        distinct.setdefault(c.tobytes(), c)
    distinct = np.array(list(distinct.values()))
    if len(distinct) <= k:
        return distinct
    weights = np.bincount(_closest(distinct, X, xn)[0], minlength=len(distinct)).astype(float)
    return _kmeans_pp(distinct, weights, k)


def _lloyd(X: np.ndarray, xn: np.ndarray, C: np.ndarray) -> np.ndarray:
    """``mllib.clustering.KMeans.runAlgorithmWithWeight``'s Lloyd rounds
    on one partition."""
    for _ in range(MAX_ITER):
        sums, counts = _cluster_sums(X, _closest_stats(C, X, xn), len(C))
        converged = True
        for j in np.flatnonzero(counts):
            new = sums[j] * (1.0 / counts[j])
            converged = converged and _sqdist(C[j][None], new)[0] <= TOL * TOL
            C[j] = new
        if converged:
            break
    return C


def kmeans_parallel(X: np.ndarray, k: int, seed: int) -> tuple[np.ndarray, np.ndarray]:
    """(labels, centers) of MLlib's ``KMeans(k, seed, initMode="k-means||",
    maxIter=50)`` fitted and predicted on the rows of X, an (n, d) float
    matrix without NaN (see the module docstring)."""
    X = np.ascontiguousarray(X, dtype=np.float64)
    xn = _norms(X)
    C = _lloyd(X, xn, _init(X, xn, k, seed))
    return _closest_stats(C, X, xn), C
