"""Property-based tests (hypothesis) for the deterministic kernels:
windowing arithmetic, quantization, llk math, GenESeSS counts, winnowing.

These check INVARIANTS rather than fixed examples — the window-chop
coverage law from the reference's split_streams (detection.py:596-613),
symbol-domain laws for quantizers, and the llk probability bound.
Driver-side replicas of the column expressions are validated once against
Spark in tests/test_sources_and_plans.py & test_oracle_parity.py; here
hypothesis explores the parameter space cheaply (no Spark job per case:
one shared DataFrame per property, parameters drive plain-Python
replicas of the same arithmetic where exact equivalence is already
pinned elsewhere).
"""

import math

import numpy as np
import pytest
from hypothesis import given, settings, strategies as st

from patternly_spark.pfsa.llk import llk_batch, llk_one
from patternly_spark.pfsa.model import PFSA
from patternly_spark.pfsa.simulate import simulate


# ---------------------------------------------------------------------------
# W1 window arithmetic: windows containing row rn are
# i in [ceil((rn-size+1)/stride), floor(rn/stride)], capped to full windows.
# Invariants (matching the reference's split_streams):
#   - window i covers rows [i*stride, i*stride + size)
#   - the set of (row -> windows) assignments from the per-row formula is
#     exactly the set from the per-window definition
#   - only windows fully inside the stream survive (trailing drop)
# ---------------------------------------------------------------------------

@settings(max_examples=200, deadline=None)
@given(
    length=st.integers(1, 500),
    size=st.integers(1, 60),
    overlap_frac=st.floats(0.0, 0.95),
)
def test_window_assignment_law(length, size, overlap_frac):
    overlap = min(int(size * overlap_frac), size - 1)
    stride = size - overlap
    n_windows = 0 if length < size else (length - size) // stride + 1

    # per-window definition
    member = {}
    for i in range(n_windows):
        for rn in range(i * stride, i * stride + size):
            member.setdefault(rn, set()).add(i)

    # per-row formula (what split_stream computes)
    for rn in range(length):
        lo = max(0, math.ceil((rn - size + 1) / stride))
        hi = rn // stride
        wins = {i for i in range(lo, hi + 1) if i < n_windows}
        assert wins == member.get(rn, set()), (rn, size, stride)


# ---------------------------------------------------------------------------
# F1/F2 simple quantizer law: diff+sign of any real sequence is in {0,1},
# first symbol is 0 (diff fillna(0) -> not > 0), and the symbol at t>0 is
# 1 iff x[t] > x[t-1] (replicating detection.py:291-296).
# ---------------------------------------------------------------------------

@settings(max_examples=200, deadline=None)
@given(st.lists(st.floats(-1e6, 1e6, allow_nan=False), min_size=1, max_size=100))
def test_simple_quantizer_law(values):
    x = np.asarray(values)
    d = np.diff(x, prepend=x[0])
    syms = (d > 0).astype(np.int8)
    assert syms[0] == 0
    assert set(np.unique(syms)) <= {0, 1}
    for t in range(1, len(x)):
        assert syms[t] == (1 if x[t] > x[t - 1] else 0)


# ---------------------------------------------------------------------------
# F4 complex quantizer: equi-probable cut-points produce all symbols in
# [0, n_symbols) and are monotone in the input.
# ---------------------------------------------------------------------------

@settings(max_examples=100, deadline=None)
@given(
    st.lists(st.floats(-1e3, 1e3, allow_nan=False), min_size=20, max_size=300, unique=True),
    st.integers(2, 6),
)
def test_complex_quantizer_law(values, n_symbols):
    from patternly_spark.functions.quantize import Quantizer

    x = np.asarray(values)
    probs = [i / n_symbols for i in range(1, n_symbols)]
    cuts = np.quantile(x, probs, method="lower").tolist()
    q = Quantizer(quantize_type="complex", n_symbols=n_symbols, cutpoints=cuts, fitted=True)
    syms = np.array([sum(v > c for c in cuts) for v in x])
    assert syms.min() >= 0 and syms.max() < n_symbols
    order = np.argsort(x)
    assert (np.diff(syms[order]) >= 0).all(), "quantization must be monotone"


# ---------------------------------------------------------------------------
# X2 llk laws: for any PFSA and any symbol sequence over its alphabet,
# the per-symbol negative log-likelihood is >= 0 (probabilities <= 1),
# finite when every row of pitilde is strictly positive, and equals the
# closed form -log(p^T pitilde)[s] for length-1 sequences.
# ---------------------------------------------------------------------------

pfsa_strategy = st.builds(
    lambda rows, flip: PFSA(
        pitilde=[[r, 1.0 - r] for r in rows],
        connx=[[0, 1], [1, 0]] if flip else [[0, 1], [0, 1]],
    ),
    st.lists(st.floats(0.05, 0.95), min_size=2, max_size=2),
    st.booleans(),
)


@settings(max_examples=150, deadline=None)
@given(
    pfsa_strategy,
    st.lists(st.integers(0, 1), min_size=1, max_size=50),
)
def test_llk_bounds_and_singleton_closed_form(model, symbols):
    nll = llk_one(symbols, model)
    assert nll >= -1e-12
    assert math.isfinite(nll)
    p = model.stationary()
    expected_first = -math.log((p @ model.pitilde)[symbols[0]])
    if len(symbols) == 1:
        assert abs(nll - expected_first) < 1e-9


@settings(max_examples=30, deadline=None)
@given(st.integers(0, 2**31 - 1))
def test_llk_separation_property(seed):
    """Sequences simulated from G score better (lower nll) under G than
    under a far-away H, on average (SLD theorem, tex/ms.tex:157-164)."""
    G = PFSA(pitilde=[[0.9, 0.1], [0.1, 0.9]], connx=[[0, 1], [1, 0]])
    H = PFSA(pitilde=[[0.3, 0.7], [0.7, 0.3]], connx=[[0, 1], [1, 0]])
    seqs = simulate(G, 300, 5, seed=seed)
    under_g = llk_batch(seqs, G).mean()
    under_h = llk_batch(seqs, H).mean()
    assert under_g < under_h


# Whole-library kernel: llk_matrix equals the scalar llk_one on every
# (sequence, model) pair — same inf pattern, finite scores within 1e-12
# (within the 2^-bits grid step per symbol when log-quantized) — on
# libraries mixing the 2-state machines above with general machines of
# other alphabet sizes, zero-probability emissions and non-synchronizing
# transitions, and on ragged sequences that include empty ones and
# symbols outside a model's alphabet (negative ones too).
# ---------------------------------------------------------------------------

@st.composite
def general_pfsa(draw):
    q, k = draw(st.integers(1, 4)), draw(st.integers(1, 3))
    weights = st.sampled_from([0.0, 0.0, 0.1, 0.3, 0.5, 1.0])
    pit = np.array(draw(st.lists(st.lists(weights, min_size=k, max_size=k), min_size=q, max_size=q)))
    pit[pit.sum(axis=1) == 0, 0] = 1.0
    connx = draw(st.lists(st.lists(st.integers(0, q - 1), min_size=k, max_size=k), min_size=q, max_size=q))
    return PFSA(pitilde=pit / pit.sum(axis=1, keepdims=True), connx=connx)


@settings(max_examples=150, deadline=None)
@given(
    st.lists(st.one_of(pfsa_strategy, general_pfsa()), min_size=1, max_size=4),
    st.lists(st.lists(st.integers(-1, 3), max_size=30), min_size=1, max_size=12),
    st.sampled_from([None, 8, 20]),
)
def test_llk_matrix_matches_scalar_reference(models, seqs, bits):
    from patternly_spark.pfsa.llk import llk_matrix

    got = llk_matrix(seqs, models, log_quantize_bits=bits)
    assert got.shape == (len(seqs), len(models))
    for j, m in enumerate(models):
        for i, s in enumerate(seqs):
            want = llk_one(s, m)
            assert math.isinf(got[i, j]) == math.isinf(want), (i, j)
            if math.isfinite(want):
                tol = 1e-12 * abs(want) if bits is None else 2.0**-bits + 1e-12
                assert abs(got[i, j] - want) <= tol, (i, j, got[i, j], want)


# ---------------------------------------------------------------------------
# GenESeSS count kernels vs a naive per-symbol loop: ngram_counts' table l
# row code(y) counts each symbol that follows the context y inside one
# sequence, and walk_counts counts (state, symbol) visits of each sequence
# walking connx from state 0.  The block size is drawn small so that runs
# of sequences cross block boundaries.
# ---------------------------------------------------------------------------

@settings(max_examples=200, deadline=None)
@given(st.data(), st.integers(2, 4), st.integers(1, 4), st.integers(0, 4), st.integers(1, 100), st.booleans())
def test_genesess_count_kernels_match_naive_loops(data, k, m, L, block, as_arrays):
    import importlib
    from unittest import mock

    # the module, not the function patternly_spark.pfsa re-exports
    g = importlib.import_module("patternly_spark.pfsa.genesess")
    seqs = data.draw(st.lists(st.lists(st.integers(0, k - 1), max_size=40), max_size=12))
    seqs = [np.array(s, dtype=np.int8) for s in seqs] if as_arrays else seqs
    row = st.lists(st.integers(0, m - 1), min_size=k, max_size=k)
    connx = np.array(data.draw(st.lists(row, min_size=m, max_size=m)), dtype=np.int32)
    want = [np.zeros((k**l, k), dtype=np.int64) for l in range(L + 1)]
    visits = np.zeros(connx.shape, dtype=np.int64)
    for s in seqs:
        q = 0
        for t, sym in enumerate(s):
            for l in range(min(t, L) + 1):
                code = 0
                for y in s[t - l : t]:
                    code = code * k + int(y)
                want[l][code, sym] += 1
            visits[q, sym] += 1
            q = connx[q, sym]
    with mock.patch.object(g, "_BLOCK_SYMBOLS", block):
        got = g.ngram_counts(seqs, k, L)
        walked = g.walk_counts(seqs, connx)
    assert len(got) == L + 1
    for l in range(L + 1):
        assert got[l].dtype == np.int64 and np.array_equal(got[l], want[l]), l
    assert walked.dtype == np.int64 and np.array_equal(walked, visits)


# ---------------------------------------------------------------------------
# Winnowing guarantee (Schleimer et al.): every window of `window`
# consecutive k-grams contributes its min hash, so any two documents
# sharing a run of window+kgram-1 tokens share >= 1 fingerprint.
# ---------------------------------------------------------------------------

@settings(max_examples=100, deadline=None)
@given(
    st.lists(st.sampled_from("ab"), min_size=12, max_size=40),
    st.integers(0, 5),
)
def test_winnow_shared_run_shares_fingerprint(core, pad):
    import hashlib

    kgram, window = 3, 4

    def fps(tokens):
        grams = [" ".join(tokens[i:i + kgram]) for i in range(max(len(tokens) - kgram + 1, 1))] \
            if len(tokens) >= kgram else [" ".join(tokens)]
        h = [int(hashlib.md5(g.encode()).hexdigest()[:8], 16) for g in grams]
        n_win = max(len(h) - window + 1, 1)
        return {min(h[i:i + window]) for i in range(n_win)}

    run = list(core)  # shared token run, len >= window + kgram - 1 = 6
    doc_a = ["x%d" % i for i in range(pad)] + run
    doc_b = run + ["y%d" % i for i in range(pad)]
    assert fps(doc_a) & fps(doc_b), "shared long run must share a fingerprint"


# ---------------------------------------------------------------------------
# C3 sequence-packing arithmetic: the closed-form block coordinates must
# equal a token-at-a-time simulation of laying documents into blocks.
# (Spark/SQL equivalence of the same formulas is pinned in
# test_curation.py and the q35/q37 oracles; hypothesis explores the
# arithmetic's edge cases: empty docs, budget=1, exact-boundary fits.)
# ---------------------------------------------------------------------------

@settings(max_examples=300, deadline=None)
@given(
    toks=st.lists(st.integers(0, 40), min_size=1, max_size=80),
    budget=st.integers(1, 50),
)
def test_packing_block_arithmetic_law(toks, budget):
    pos = 0
    for n in toks:
        start = pos
        bin_id = start // budget
        offset = start % budget
        end = start + max(n - 1, 0)
        spans = end // budget - bin_id + 1
        # independent reference: which blocks do this doc's tokens touch?
        touched = {(start + j) // budget for j in range(n)} or {start // budget}
        assert bin_id == min(touched)
        assert spans == len(touched) == max(touched) - min(touched) + 1
        assert 0 <= offset < budget and offset == start - bin_id * budget
        pos += n


# ---------------------------------------------------------------------------
# Dataset fingerprint: the checksum is an integer SUM of 60-bit per-row
# md5 prefixes, so fingerprints are ADDITIVE over a disjoint partition of
# the rows — checksum(union) == sum of part checksums (mod nothing: the
# decimal sum never wraps), and n_rows/n_bytes add likewise.  Replica of
# the arithmetic in operators/merge.dataset_fingerprint.
# ---------------------------------------------------------------------------

def _fp_replica(rows):
    import hashlib

    n_bytes = sum(len(t) for _, t in rows)
    csum = sum(
        int(hashlib.md5(f"{i}:{t}".encode("utf-8")).hexdigest()[:15], 16)
        for i, t in rows
    )
    return len(rows), n_bytes, csum


@settings(max_examples=100, deadline=None)
@given(
    texts=st.lists(st.text(alphabet="abc XYZ09", max_size=40), min_size=1, max_size=30),
    cut=st.integers(0, 29),
)
def test_fingerprint_additivity_law(texts, cut):
    rows = list(enumerate(texts))
    k = min(cut, len(rows))
    n_a, b_a, c_a = _fp_replica(rows[:k])
    n_b, b_b, c_b = _fp_replica(rows[k:])
    n_u, b_u, c_u = _fp_replica(rows)
    assert (n_a + n_b, b_a + b_b, c_a + c_b) == (n_u, b_u, c_u)


# ---------------------------------------------------------------------------
# Boilerplate removal law (plain replica of the span semantics): for any
# corpus and threshold, (a) kept spans per doc never exceed total spans,
# (b) a span's occurrences are either ALL kept or ALL dropped (the
# frequency rule is global), and (c) raising max_doc_freq never drops
# more.
# ---------------------------------------------------------------------------

def _boiler_replica(docs, max_doc_freq):
    from collections import Counter

    spans = {i: [s for s in t.split("\n") if s != ""] for i, t in docs}
    df = Counter()
    for i, ss in spans.items():
        for s in set(ss):
            df[s] += 1
    kept = {i: [s for s in ss if df[s] <= max_doc_freq] for i, ss in spans.items()}
    return spans, kept, df


@settings(max_examples=100, deadline=None)
@given(
    docs=st.lists(
        st.lists(st.sampled_from(["nav", "menu", "a", "b", "c", "d"]), max_size=6),
        min_size=1,
        max_size=12,
    ),
    k=st.integers(1, 4),
)
def test_boilerplate_replica_laws(docs, k):
    corpus = [(i, "\n".join(lines)) for i, lines in enumerate(docs)]
    spans, kept, df = _boiler_replica(corpus, k)
    for i in spans:
        assert len(kept[i]) <= len(spans[i])
        dropped = [s for s in spans[i] if df[s] > k]
        assert len(kept[i]) + len(dropped) == len(spans[i])
    _, kept_looser, _ = _boiler_replica(corpus, k + 1)
    for i in spans:
        assert len(kept_looser[i]) >= len(kept[i])


# ---------------------------------------------------------------------------
# top-k recall bounds: 0 <= recall <= 1 and n_common <= min(n_exact,
# n_approx) for any pair of relations (set replica of the join+count).
# ---------------------------------------------------------------------------

@settings(max_examples=100, deadline=None)
@given(
    exact=st.sets(st.integers(0, 20), min_size=1, max_size=10),
    approx=st.sets(st.integers(0, 20), max_size=10),
)
def test_topk_recall_bounds_law(exact, approx):
    n_common = len(exact & approx)
    recall = n_common / len(exact)
    assert 0.0 <= recall <= 1.0
    assert n_common <= len(exact) and n_common <= len(approx)


# ---------------------------------------------------------------------------
# compressed-embedding laws (plain-Python replicas of quantized.py kernels;
# Spark equivalence is pinned by tests/test_quantized.py + the q135/q136
# oracles — here hypothesis explores the vector space)
# ---------------------------------------------------------------------------

def _int8_codes(x):
    am = max(abs(v) for v in x)
    scale = am / 127.0 if am / 127.0 > 0 else 1.0  # quotient guard: subnormal am underflows
    return [math.floor(v / scale + 0.5) for v in x], scale


@settings(max_examples=200, deadline=None)
@given(st.lists(st.floats(-1e3, 1e3, allow_nan=False), min_size=2, max_size=64))
def test_int8_quantization_laws(x):
    codes, scale = _int8_codes(x)
    # codes bounded; reconstruction within half a step per component
    assert all(-127 <= c <= 127 for c in codes)
    assert all(abs(c * scale - v) <= scale / 2 + 1e-12 for c, v in zip(codes, x))
    # scale-invariance of the codes (absmax normalization)
    if any(v != 0 for v in x):
        codes2, _ = _int8_codes([v * 3.0 for v in x])
        assert codes == codes2


@settings(max_examples=200, deadline=None)
@given(
    st.lists(st.floats(-10, 10, allow_nan=False), min_size=4, max_size=64),
    st.lists(st.floats(-10, 10, allow_nan=False), min_size=4, max_size=64),
)
def test_sign_hamming_laws(a, b):
    n = min(len(a), len(b))
    a, b = a[:n], b[:n]
    ham = sum((x >= 0) != (y >= 0) for x, y in zip(a, b))
    # symmetric, bounded, zero on self
    assert ham == sum((y >= 0) != (x >= 0) for y, x in zip(b, a))
    assert 0 <= ham <= n
    assert sum((x >= 0) != (x >= 0) for x in a) == 0
    # triangle inequality through any third vector (XOR metric)
    c = [-v for v in a]
    ham_ac = sum((x >= 0) != (y >= 0) for x, y in zip(a, c))
    ham_cb = sum((x >= 0) != (y >= 0) for x, y in zip(c, b))
    assert ham <= ham_ac + ham_cb


# ---------------------------------------------------------------------------
# Q2 the numpy complex quantizer (functions.quantize.fit_cutpoints_local /
# symbolize_local) against the Spark expressions it replaces on a driver
# fit and in predict's task: the exact ``percentile`` aggregate,
# ``symbol_from_cutpoints`` and ``array_diff``.
# ---------------------------------------------------------------------------

_Q_ELEMENT = st.one_of(
    st.sampled_from([0.0, -0.0, 1.0, -1.0, 2.5, math.inf, -math.inf, math.nan, None]),
    st.floats(allow_nan=True, allow_infinity=True),
)
_Q_ROW = st.one_of(st.none(), st.lists(_Q_ELEMENT, max_size=8))


def _bits(x: float) -> bytes:
    import struct

    return struct.pack(">d", float("nan") if math.isnan(x) else x)  # any NaN payload is Spark's NaN


@settings(max_examples=60, deadline=None)
@given(rows=st.lists(_Q_ROW, min_size=1, max_size=12), n_symbols=st.integers(2, 6), detrend=st.booleans())
def test_local_complex_quantizer_matches_spark(spark, rows, n_symbols, detrend):
    """Cut-points bit for bit, ``alphabet_size``, ``_train_size`` and every
    symbol equal Spark's, over NaN, +-inf, +-0.0, heavy duplicates, null
    elements, and null and empty series.  Where -0.0 and 0.0 both occur
    at a cut-point, Spark's hash order picks the sign and the local fit
    declines (None); the symbols then still match under Spark's
    cut-points.  A fit on no values fails on both sides."""
    import pyarrow as pa

    from patternly_spark.detection import AnomalyDetection
    from patternly_spark.functions.quantize import fit_cutpoints_local, symbolize_local

    values = pa.array(rows, type=pa.list_(pa.float64()))
    df = spark.createDataFrame(list(enumerate(rows)), "seq_id long, values array<double>")
    model = AnomalyDetection(spark, quantize_type="complex", n_symbols=n_symbols, detrend=detrend)
    try:
        cuts, alphabet_size = fit_cutpoints_local(values, n_symbols, detrend)
    except ValueError:  # no values: Spark's percentile is null
        with pytest.raises(TypeError):
            model._quantize(df)
        return
    want = model._quantize(df).orderBy("seq_id").toPandas()["symbols"].tolist()
    spark_cuts = model.quantizer.cutpoints
    if cuts is None:
        assert any(c == 0.0 for c in spark_cuts)
    else:
        assert [_bits(c) for c in cuts] == [_bits(c) for c in spark_cuts]
        assert alphabet_size == model.alphabet_size
    assert model._train_size == (len(rows), sum(len(r) for r in rows if r is not None))
    symbols, offsets = symbolize_local(values, spark_cuts, detrend)
    got = np.split(symbols, offsets[1:-1])
    assert len(got) == len(rows)
    for r, g, w in zip(rows, got, want):
        assert g.dtype == np.int8
        assert (w is None and r is None and g.size == 0) or g.tolist() == list(w)
