"""Per-sequence negative log-likelihood under a PFSA (Alg. 1, tex/ms.tex:261-282).

This is the engine's workhorse kernel (reference operator X2, invoked at
``patternly/detection.py:141,:424,:486,:668,:676,:732``).  The recurrence:

    p   <- stationary distribution of Pi_G          (once per model)
    for each symbol s in x:
        phi  = p^T Pitilde                          (distribution on symbols)
        L   -= log(phi[s])
        p    = normalize_1(p . Gamma_s)
    return L / n

Spark-side strategy (SURVEY §3.2): the PFSA library is tiny (<= tens of
models) and the sequence table is huge, so we ship the library to every
task inside a ``mapInPandas`` closure — a broadcast nested-loop join with
zero shuffle.

Kernel (``llk_matrix``): one pass scores a whole batch under the whole
library, one time step at a time for all (sequence, model) pairs.  A
batch is packed once into a narrow int16 matrix.  Most pairs soon hold
an exact point mass (one state at 1.0): GenESeSS machines synchronize,
and the SLD base models do after one symbol.  Such a pair advances by
one lookup in flat tables of log pitilde and connx, indexed over one
global state space that covers every model.  Any other pair takes the
full distribution step above, and moves to the lookup once its
distribution becomes a point mass.  On a point mass the distribution step
computes exactly the floats the tables hold, so both paths give
bit-identical scores; ``llk_one`` is the scalar reference.
"""

from __future__ import annotations

from typing import Callable, Iterable, Sequence

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import types as T

from patternly_spark.pfsa.model import PFSA


_NO_SYMBOLS = np.empty(0, dtype=np.int8)  # a null sequence scores as an empty one


def llk_one(symbols: Sequence[int], model: PFSA) -> float:
    """Reference-shaped scalar implementation (used by tests as the oracle
    for the vectorized kernel)."""
    syms = np.asarray(symbols, dtype=np.int64)
    n = len(syms)
    if n == 0:
        return float("inf")
    if syms.min() < 0 or syms.max() >= model.alphabet_size:
        # alphabet-incompatible sequence: unscorable -> inf
        # (reference realigns and pads with inf, detection.py:142-144)
        return float("inf")
    p = model.stationary().copy()
    pit, cnx = model.pitilde, model.connx
    L = 0.0
    for s in syms:
        phi = p @ pit
        if phi[s] <= 0.0:
            return float("inf")
        L -= np.log(phi[s])
        p_new = np.zeros_like(p)
        np.add.at(p_new, cnx[:, s], p * pit[:, s])
        tot = p_new.sum()
        if tot <= 0.0:
            return float("inf")
        p = p_new / tot
    return float(L / n)


def _pack(seqs: list, pad: int) -> tuple[np.ndarray, np.ndarray, np.ndarray, np.ndarray]:
    """Pack a batch once into an int16 matrix, ``pad`` past each end.

    Returns (packed (N, T), lengths, max symbol, usable), where a sequence
    is usable when it is non-empty and every symbol lies in [0, pad); an
    unusable row is packed as all ``pad``."""
    n = len(seqs)
    lens = np.fromiter(map(len, seqs), dtype=np.int64, count=n)
    width, full = int(lens.max()), lens > 0
    lo, hi = np.zeros(n, dtype=np.int64), np.zeros(n, dtype=np.int64)
    if width and lens.min() == width:
        wide = np.stack(seqs)
        lo[:], hi[:] = wide.min(axis=1), wide.max(axis=1)
        packed = wide.astype(np.int16)
    else:
        packed = np.full((n, width), pad, dtype=np.int16)
        if width:
            flat = np.concatenate(seqs)
            starts = np.cumsum(lens) - lens
            lo[full] = np.minimum.reduceat(flat, starts[full])
            hi[full] = np.maximum.reduceat(flat, starts[full])
            cols = np.arange(flat.size) - np.repeat(starts, lens)
            packed[np.repeat(np.arange(n), lens), cols] = flat
    usable = full & (lo >= 0) & (hi < pad)
    packed[~usable] = pad
    return packed, lens, hi, usable


def _log_step(pr: np.ndarray, log_quantize_bits: int | None) -> np.ndarray:
    """log of emission probabilities (> 0), floored to the 2^-bits grid
    when quantizing."""
    step = np.log(pr)
    if log_quantize_bits is not None:
        scale = float(1 << log_quantize_bits)
        step = np.floor(step * scale) / scale
    return step


def _is_point_mass(P: np.ndarray) -> np.ndarray:
    """Rows of P that hold exactly 1.0 in one state and 0 elsewhere."""
    return (np.count_nonzero(P, axis=-1) == 1) & (P.max(axis=-1) == 1.0)


def llk_matrix(
    sequences: Iterable[Sequence[int]],
    models: Sequence[PFSA],
    *,
    log_quantize_bits: int | None = None,
) -> np.ndarray:
    """Negative log-likelihood of every sequence under every model.

    Returns a float64 (N, M) matrix, column j for ``models[j]``; inf for
    an empty or None sequence, a symbol outside [0, alphabet_size) of the
    model, or a zero-probability step.  Sequences may have unequal length.

    ``log_quantize_bits``: floor each per-step log-probability to the
    2^-bits grid before accumulating.  Quantized terms are dyadic
    rationals, so their sum is EXACT in float64 and order-independent —
    which makes the score reproducible bit-for-bit by an external SQL
    oracle (the same cross-engine-ln trick as BM25's idf quantization,
    operators/retrieval.py::_quantize_idf).  At 20 bits the perturbation
    per step is < 1e-6 — far below the anomaly thresholds — while the
    default (None) keeps full-precision semantics.
    """
    seqs = [_NO_SYMBOLS if s is None else s for s in sequences]
    n, n_models = len(seqs), len(models)
    out = np.full((n, n_models), np.inf)
    if n == 0 or n_models == 0:
        return out
    ks = np.array([m.alphabet_size for m in models])
    width = int(ks.max()) + 1  # the last column is padding: a no-op step
    packed, lens, hi, usable = _pack(seqs, width - 1)
    valid = usable[:, None] & (hi[:, None] < ks)
    if not valid.any():
        return out

    # one global state space: model j's state q is row offs[j] + q of the
    # flat tables, whose entry row * width + symbol holds the step's
    # log-probability (logp) and the next state's row * width (nxt).  A
    # pair (i, j) in a point mass sits at base[i, j]; any other pair steps
    # its distribution dist[j][i].
    offs = np.cumsum([0] + [m.n_states for m in models])
    logp = np.zeros((offs[-1], width))
    nxt = np.repeat(np.arange(offs[-1]) * width, width).reshape(-1, width)
    base = np.empty((n, n_models), dtype=np.intp)
    in_dist = np.zeros((n, n_models), dtype=bool)
    dist: dict[int, np.ndarray] = {}
    for j, m in enumerate(models):
        span, pos = slice(offs[j], offs[j + 1]), m.pitilde > 0.0
        logp[span, : ks[j]] = -np.inf
        logp[span, : ks[j]][pos] = _log_step(m.pitilde[pos], log_quantize_bits)
        nxt[span, : ks[j]] = (offs[j] + m.connx) * width
        p0 = m.stationary()
        base[:, j] = (offs[j] + int(np.argmax(p0))) * width
        if not _is_point_mass(p0):
            in_dist[:, j] = valid[:, j]
            dist[j] = np.tile(p0, (n, 1))
    logp, nxt = logp.ravel(), nxt.ravel()

    L = np.zeros((n, n_models))
    for t in range(packed.shape[1]):
        x = packed[:, t].astype(np.intp)
        at = base + x[:, None]
        step = logp[at]
        base = nxt[at]
        if in_dist.any():
            stepping = in_dist & (lens > t)[:, None]
            for j, P in dist.items():
                rows = np.nonzero(stepping[:, j])[0]
                if rows.size == 0:
                    continue
                step[rows, j] = _dist_step(models[j], P, rows, x[rows], log_quantize_bits)
                # a dead pair's llk is inf from here on, whatever it looks up
                mass = _is_point_mass(P[rows])
                in_dist[rows[mass | (step[rows, j] == -np.inf)], j] = False
                base[rows[mass], j] = (offs[j] + P[rows[mass]].argmax(axis=1)) * width
        L -= step

    np.divide(L, lens[:, None], out=out, where=valid)
    return out


def _dist_step(model: PFSA, P: np.ndarray, rows: np.ndarray, syms: np.ndarray,
               log_quantize_bits: int | None) -> np.ndarray:
    """One Alg. 1 step for the distributions ``P[rows]`` emitting ``syms``:
    returns their log-probabilities (-inf when zero) and advances those
    rows of P in place."""
    pit, cnx = model.pitilde, model.connx
    pr = (P[rows] @ pit)[np.arange(rows.size), syms]
    ok = pr > 0.0
    step = np.full(rows.size, -np.inf)
    step[ok] = _log_step(pr[ok], log_quantize_bits)
    for s in np.unique(syms[ok]):
        sel = np.nonzero(ok & (syms == s))[0]
        rs = rows[sel]
        pn = np.zeros((rs.size, model.n_states))
        np.add.at(pn.T, cnx[:, s], (P[rs] * pit[:, s]).T)
        norm = pn.sum(axis=1, keepdims=True)
        zero = norm[:, 0] <= 0.0
        step[sel[zero]] = -np.inf
        norm[zero] = 1.0
        P[rs] = pn / norm
    return step


def llk_batch(
    sequences: Iterable[Sequence[int]],
    model: PFSA,
    *,
    log_quantize_bits: int | None = None,
) -> np.ndarray:
    """Negative log-likelihood of many sequences under one model: column 0
    of ``llk_matrix``."""
    return llk_matrix(sequences, [model], log_quantize_bits=log_quantize_bits)[:, 0]


LLK_SCHEMA = T.StructType(
    [
        T.StructField("seq_id", T.LongType(), False),
        T.StructField("pfsa_id", T.IntegerType(), False),
        T.StructField("llk", T.DoubleType(), False),
    ]
)


def map_llk(
    seq_df: DataFrame,
    models: list[PFSA],
    schema: T.StructType,
    emit: Callable[[pd.DataFrame, np.ndarray], pd.DataFrame],
    *,
    seq_col: str = "symbols",
    id_col: str = "seq_id",
    log_quantize_bits: int | None = None,
    keep: Sequence[str] = (),
    symbolize: Callable | None = None,
) -> DataFrame:
    """One ``mapInArrow`` pass: each Arrow batch (columns ``id_col``,
    ``seq_col`` and ``keep``) is scored once by ``llk_matrix`` under the
    library and ``emit(batch, llk)`` turns it into output rows of
    ``schema``; llk column j is ``models[j]``, and ``batch`` is a pandas
    frame of ``id_col`` and ``keep``.  The sequences are read from the
    list column's Arrow buffers (a null one is empty), or, with
    ``symbolize(list array) -> (symbols, row offsets)``, computed from it
    (e.g. the complex quantizer over raw values).

    Physical plan: no shuffle, no join — the tiny model library rides in
    the task closure and each input partition is scored locally
    (broadcast nested-loop join semantics at zero cost).
    """
    from pyspark.sql.pandas.types import to_arrow_schema

    from patternly_spark.plans import list_parts

    payload = [m.to_dict() for m in models]
    out_schema = to_arrow_schema(schema)

    def run(batches):
        import pyarrow as pa

        mdl = [PFSA.from_dict(d) for d in payload]
        for batch in batches:
            if batch.num_rows:
                col = batch.column(seq_col)
                flat, offsets = symbolize(col) if symbolize else list_parts(col)[:2]
                llk = llk_matrix(np.split(flat, offsets[1:-1]), mdl, log_quantize_bits=log_quantize_bits)
                out = emit(batch.select([id_col, *keep]).to_pandas(), llk)
                yield pa.RecordBatch.from_pandas(out, schema=out_schema, preserve_index=False)

    return seq_df.select(id_col, seq_col, *keep).mapInArrow(run, schema=schema)


def score_sequences(
    seq_df: DataFrame,
    models: list[PFSA],
    *,
    seq_col: str = "symbols",
    id_col: str = "seq_id",
    log_quantize_bits: int | None = None,
    keep: Sequence[str] = (),
) -> DataFrame:
    """Score every sequence under every library PFSA.

    Input: DataFrame (seq_id bigint, symbols array<tinyint|int>).
    Output: long table (seq_id, pfsa_id, llk double) — one row per
    (sequence, model) pair, grouped by model within a batch; llk = +inf
    when unscorable (SURVEY J2 + P3).  The input columns named in
    ``keep`` ride along unchanged on every output row of their sequence
    (e.g. a cluster label), so a caller needs no join back to the input.
    One shuffle-free pass (``map_llk``).
    """
    schema = T.StructType(LLK_SCHEMA.fields + [seq_df.schema[c] for c in keep])
    ids = np.array([m.pfsa_id for m in models], dtype=np.int32)

    def emit(pdf: pd.DataFrame, llk: np.ndarray) -> pd.DataFrame:
        return pd.DataFrame(
            {
                "seq_id": np.tile(pdf[id_col].to_numpy(), len(ids)),
                "pfsa_id": np.repeat(ids, len(pdf)),
                "llk": llk.T.ravel(),
                **{c: np.tile(pdf[c].to_numpy(), len(ids)) for c in keep},
            }
        )

    return map_llk(seq_df, models, schema, emit, seq_col=seq_col, id_col=id_col,
                   log_quantize_bits=log_quantize_bits, keep=keep)
