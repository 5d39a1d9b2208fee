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
zero shuffle.  The numpy kernel vectorizes across *sequences* (state
distribution matrix P of shape (N, |Q|) advanced one time-step for all N
sequences at once, grouped by emitted symbol), so Python-loop cost is
O(max_len * |Sigma|), not O(N * len).
"""

from __future__ import annotations

from typing import Iterable, Iterator, Sequence

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import types as T

from patternly_spark.pfsa.model import PFSA


def llk_one(symbols: Sequence[int], model: PFSA) -> float:
    """Reference-shaped scalar implementation (used by tests as the oracle
    for the vectorized kernel)."""
    syms = np.asarray(symbols, dtype=np.int64)
    n = len(syms)
    if n == 0:
        return float("inf")
    if syms.max() >= model.alphabet_size:
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


def llk_batch(
    sequences: Iterable[Sequence[int]],
    model: PFSA,
    *,
    log_quantize_bits: int | None = None,
) -> np.ndarray:
    """Vectorized negative log-likelihood of many sequences under one model.

    Sequences may have unequal length; they are packed into a padded
    int16 matrix with -1 padding.  Returns float64 array of length N
    (inf for empty / alphabet-incompatible / zero-probability sequences).

    ``log_quantize_bits``: floor each per-step log-probability to the
    2^-bits grid before accumulating.  Quantized terms are dyadic
    rationals, so their sum is EXACT in float64 and order-independent —
    which makes the score reproducible bit-for-bit by an external SQL
    oracle (the same cross-engine-ln trick as BM25's idf quantization,
    operators/retrieval.py::_quantize_idf).  At 20 bits the perturbation
    per step is < 1e-6 — far below the anomaly thresholds — while the
    default (None) keeps full-precision semantics.
    """
    seq_list = [np.asarray(s, dtype=np.int16) for s in sequences]
    n_seq = len(seq_list)
    if n_seq == 0:
        return np.empty(0)
    lens = np.array([len(s) for s in seq_list], dtype=np.int64)
    max_len = int(lens.max()) if n_seq else 0
    out = np.full(n_seq, np.inf)
    if max_len == 0:
        return out

    k = model.alphabet_size
    packed = np.full((n_seq, max_len), -1, dtype=np.int16)
    for i, s in enumerate(seq_list):
        packed[i, : len(s)] = s

    valid = lens > 0
    for i, s in enumerate(seq_list):
        if len(s) and (s.max() >= k or s.min() < 0):
            valid[i] = False
    idx = np.nonzero(valid)[0]
    if idx.size == 0:
        return out

    pit = model.pitilde  # (Q, k)
    cnx = model.connx  # (Q, k)
    nq = model.n_states
    p0 = model.stationary()

    P = np.tile(p0, (idx.size, 1))  # (N, Q) current state distributions
    L = np.zeros(idx.size)
    alive = np.ones(idx.size, dtype=bool)
    sub = packed[idx]  # (N, max_len)
    sub_lens = lens[idx]

    # per-symbol transfer operators Gamma_s as (Q,) target index + weight
    for t in range(max_len):
        active = alive & (t < sub_lens)
        if not active.any():
            break
        syms_t = sub[:, t]
        phi = P @ pit  # (N, k)
        act = np.nonzero(active)[0]
        pr = phi[act, syms_t[act]]
        dead = pr <= 0.0
        if dead.any():
            alive[act[dead]] = False
            act = act[~dead]
            pr = pr[~dead]
        step = np.log(pr)
        if log_quantize_bits is not None:
            scale = float(1 << log_quantize_bits)
            step = np.floor(step * scale) / scale
        L[act] -= step
        # advance state distributions: group rows by emitted symbol
        P_new = np.zeros_like(P)
        for s in range(k):
            rows = act[syms_t[act] == s]
            if rows.size == 0:
                continue
            contrib = P[rows] * pit[:, s]  # (r, Q)
            tgt = cnx[:, s]  # (Q,)
            pn = np.zeros((rows.size, nq))
            np.add.at(pn.T, tgt, contrib.T)
            norm = pn.sum(axis=1, keepdims=True)
            zero = (norm[:, 0] <= 0.0)
            if zero.any():
                alive[rows[zero]] = False
                norm[zero] = 1.0
            P_new[rows] = pn / norm
        # rows not active this step keep their distribution
        inactive = np.nonzero(~active)[0]
        P_new[inactive] = P[inactive]
        P = P_new

    ok = alive
    out_idx = idx[ok]
    out[out_idx] = L[ok] / sub_lens[ok]
    return out


LLK_SCHEMA = T.StructType(
    [
        T.StructField("seq_id", T.LongType(), False),
        T.StructField("pfsa_id", T.IntegerType(), False),
        T.StructField("llk", T.DoubleType(), False),
    ]
)


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
    (sequence, model) pair; llk = +inf when unscorable (SURVEY J2 + P3).
    The input columns named in ``keep`` ride along unchanged on every
    output row of their sequence (e.g. a cluster label), so a caller
    needs no join back to the input.

    Physical plan: no shuffle, no join — the tiny model library rides in
    the task closure and each input partition is scored locally
    (broadcast nested-loop join semantics at zero cost).
    """
    payload = [m.to_dict() for m in models]
    schema = T.StructType(LLK_SCHEMA.fields + [seq_df.schema[c] for c in keep])

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        mdl = [PFSA.from_dict(d) for d in payload]
        for pdf in batches:
            if len(pdf) == 0:
                continue
            seqs = pdf[seq_col].tolist()
            ids = pdf[id_col].to_numpy()
            frames = []
            for m in mdl:
                vals = llk_batch(seqs, m, log_quantize_bits=log_quantize_bits)
                frames.append(
                    pd.DataFrame(
                        {
                            "seq_id": ids,
                            "pfsa_id": np.full(len(ids), m.pfsa_id, dtype=np.int32),
                            "llk": vals,
                            **{c: pdf[c].to_numpy() for c in keep},
                        }
                    )
                )
            yield pd.concat(frames, ignore_index=True)

    return seq_df.select(id_col, seq_col, *keep).mapInPandas(run, schema=schema)
