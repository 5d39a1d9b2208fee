"""Unit tests for the PFSA kernels: llk (closed-form golden values),
simulator determinism, GenESeSS simulation-recovery (SURVEY §5 items 1-2)."""

import math

import numpy as np
import pytest

from patternly_spark.pfsa.model import PFSA
from patternly_spark.pfsa.llk import llk_one, llk_batch, score_sequences
from patternly_spark.pfsa.simulate import simulate, simulate_df
from patternly_spark.pfsa.genesess import genesess


# canonical truth machine from examples/M2.cfg: 2 states, binary alphabet,
# connx=[[0,1],[0,1]], pitilde=[[.6,.4],[.3,.7]]
M2 = PFSA(pitilde=[[0.6, 0.4], [0.3, 0.7]], connx=[[0, 1], [0, 1]], pfsa_id=0)
M2B = PFSA(pitilde=[[0.4, 0.6], [0.6, 0.4]], connx=[[0, 1], [0, 1]], pfsa_id=1)


def test_stationary():
    # p = p @ Pi ; Pi rows [[.6,.4],[.3,.7]] -> p = (3/7, 4/7)
    p = M2.stationary()
    assert np.allclose(p, [3 / 7, 4 / 7], atol=1e-12)


def hand_llk(model: PFSA, syms):
    """Direct Alg. 1 transcription with explicit scalars."""
    p = model.stationary().copy()
    L = 0.0
    for s in syms:
        phi = p @ model.pitilde
        L -= math.log(phi[s])
        p_new = np.zeros_like(p)
        for q in range(model.n_states):
            p_new[model.connx[q, s]] += p[q] * model.pitilde[q, s]
        p = p_new / p_new.sum()
    return L / len(syms)


@pytest.mark.parametrize("seq", [[0], [1], [0, 1], [1, 1, 0, 0, 1], [0, 0, 0, 0, 0, 0, 1, 1]])
def test_llk_matches_hand_computation(seq):
    expected = hand_llk(M2, seq)
    assert llk_one(seq, M2) == pytest.approx(expected, rel=1e-12)
    assert llk_batch([seq], M2)[0] == pytest.approx(expected, rel=1e-12)


def test_llk_first_symbol_closed_form():
    # single symbol: L = -log(p_stat^T Pitilde)[s] ; phi = (3/7*.6+4/7*.3, 3/7*.4+4/7*.7)
    phi0 = 3 / 7 * 0.6 + 4 / 7 * 0.3
    assert llk_one([0], M2) == pytest.approx(-math.log(phi0), rel=1e-12)


def test_llk_batch_unequal_lengths_and_incompatible():
    # third has symbol 2 > alphabet, fourth is empty, fifth has a negative
    # symbol (which must not index phi from the end)
    seqs = [[0, 1, 1], [1, 0], [0, 2, 1], [], [0, -1, 1]]
    vals = llk_batch(seqs, M2)
    assert vals[0] == pytest.approx(hand_llk(M2, seqs[0]), rel=1e-12)
    assert vals[1] == pytest.approx(hand_llk(M2, seqs[1]), rel=1e-12)
    assert math.isinf(vals[2]) and math.isinf(vals[3]) and math.isinf(vals[4])
    assert all(math.isinf(llk_one(s, M2)) for s in seqs[2:])


def test_simulator_deterministic_and_statistically_sane():
    a = simulate(M2, 5000, 2, seed=7)
    b = simulate(M2, 5000, 2, seed=7)
    assert all((x == y).all() for x, y in zip(a, b))
    # stationary symbol frequency of M2: P(0) = p0*.6 + p1*.3 = 3/7*.6+4/7*.3
    freq0 = np.mean([np.mean(s == 0) for s in a])
    assert abs(freq0 - (3 / 7 * 0.6 + 4 / 7 * 0.3)) < 0.03


def test_llk_separates_models():
    # Thm tex/ms.tex:157-164: sequences from G score lower (better) under G
    seqs_g = simulate(M2, 2000, 8, seed=1)
    llk_own = llk_batch(seqs_g, M2)
    llk_other = llk_batch(seqs_g, M2B)
    assert (llk_own < llk_other).all()


def test_genesess_recovers_m2():
    seqs = simulate(M2, 10000, 5, seed=3)
    model = genesess(seqs, eps=0.2, alphabet_size=2)
    # the fitted machine must score M2-generated data like M2 does
    test_seqs = simulate(M2, 2000, 4, seed=9)
    fitted = llk_batch(test_seqs, model)
    truth = llk_batch(test_seqs, M2)
    assert np.all(np.abs(fitted - truth) < 0.02)
    # and separate data from a different machine
    other = llk_batch(simulate(M2B, 2000, 4, seed=11), model)
    assert other.mean() > fitted.mean() + 0.01


def test_text_codec_roundtrip():
    m = PFSA(
        pitilde=[[0.6, 0.4], [0.3, 0.7]],
        connx=[[0, 1], [0, 1]],
        ann_err=0.01,
        mrg_eps=0.1,
        syn_str=[0, 1],
        sym_frq=[0.45, 0.55],
    )
    m2 = PFSA.from_text(m.to_text())
    assert np.allclose(m2.pitilde, m.pitilde)
    assert (m2.connx == m.connx).all()
    assert m2.syn_str == [0, 1]


def _symbols_df(spark, seqs):
    return spark.createDataFrame(
        [(i, [int(v) for v in s]) for i, s in enumerate(seqs)],
        "seq_id long, symbols array<int>",
    )


def test_score_sequences_spark(spark):
    seqs = simulate(M2, 500, 6, seed=5)
    out = score_sequences(_symbols_df(spark, seqs), [M2, M2B]).toPandas().sort_values(["seq_id", "pfsa_id"])
    assert len(out) == 12
    local0 = llk_batch(seqs, M2)
    got0 = out[out.pfsa_id == 0].sort_values("seq_id")["llk"].to_numpy()
    assert np.allclose(got0, local0, rtol=1e-10)


def test_genesess_recovers_ternary_machine():
    # X1 beyond the binary alphabet: a 3-symbol 2-state machine
    from patternly_spark.pfsa.model import PFSA

    t = PFSA(
        pitilde=[[0.7, 0.2, 0.1], [0.1, 0.3, 0.6]],
        connx=[[0, 1, 1], [0, 0, 1]],
    )
    seqs = simulate(t, 12000, 5, seed=17)
    model = genesess(seqs, eps=0.15, alphabet_size=3)
    assert model.alphabet_size == 3
    test_seqs = simulate(t, 2000, 4, seed=19)
    fitted = llk_batch(test_seqs, model)
    truth = llk_batch(test_seqs, t)
    assert np.all(np.isfinite(fitted))
    assert np.all(np.abs(fitted - truth) < 0.03), (fitted, truth)


def test_genesess_distributed_matches_in_memory(spark):
    # the distributed n-gram path must produce the IDENTICAL machine the
    # in-memory path does from the same data (same counts -> same
    # structure -> same walk counts), on ragged input with an empty series
    from patternly_spark.pfsa.genesess import genesess_distributed

    for k in (2, 3, 4):
        w = np.linspace(1.0, 4.0, k) / np.linspace(1.0, 4.0, k).sum()
        truth = PFSA(pitilde=[w, w[::-1]], connx=[np.arange(k) % 2, np.arange(1, k + 1) % 2])
        rng = np.random.default_rng(k)
        seqs = [s[: rng.integers(1, 600)] for s in simulate(truth, 600, 12, seed=23)] + [[]]
        dist = genesess_distributed(_symbols_df(spark, seqs), eps=0.2, alphabet_size=k)
        mem = genesess(seqs, eps=0.2, alphabet_size=k)
        assert dist.to_dict() == mem.to_dict(), k
        assert mem.connx.shape[0] > 1, k


def test_genesess_rejects_oversized_alphabet(spark):
    # one symbol-range check for both paths: the same ValueError in memory
    # and from a Spark task
    from patternly_spark.pfsa.genesess import genesess_distributed

    cases = [
        ([[0, 1, 300, 2]], None, r"at most 256 symbols"),
        ([[-1, 0, 1]], None, r"symbols must be in \[0, 2\), got -1$"),
        ([[0, 1, 0], [1, 2]], 2, r"symbols must be in \[0, 2\), got 2$"),
        ([[0, 258]], 3, r"symbols must be in \[0, 3\), got 258$"),
    ]
    for seqs, k, msg in cases:
        with pytest.raises(ValueError, match=msg):
            genesess([np.array(s) for s in seqs], alphabet_size=k)
        with pytest.raises(ValueError, match=msg):
            genesess_distributed(_symbols_df(spark, seqs), alphabet_size=k)


def test_llk_log_quantization_tight_and_exact():
    """20-bit log quantization perturbs each score by < 2^-20 per step
    and makes the accumulated sum a dyadic rational (exactly
    representable, order-independent) — the property the q90 SQL oracle
    relies on."""
    import numpy as np

    from patternly_spark.pfsa.llk import llk_batch
    from patternly_spark.pfsa.model import PFSA

    m = PFSA(pitilde=[[0.6, 0.4], [0.3, 0.7]], connx=[[0, 1], [0, 1]], pfsa_id=0)
    rng = np.random.default_rng(5)
    seqs = [rng.integers(0, 2, size=n).tolist() for n in (1, 2, 17, 400)]
    full = llk_batch(seqs, m)
    quant = llk_batch(seqs, m, log_quantize_bits=20)
    assert np.all(np.abs(full - quant) < 2.0**-20 + 1e-12)
    # every quantized score times its length is a multiple of 2^-20
    for s, v in zip(seqs, quant):
        scaled = v * len(s) * (1 << 20)
        assert scaled == round(scaled)


def test_draw_pfsa_png(tmp_path):
    """Self-contained PNG rendering: valid signature/IHDR, deterministic
    bytes, decodable zlib payload of the right raster size."""
    import struct
    import zlib

    from patternly_spark.pfsa.draw import draw_pfsa_png
    from patternly_spark.pfsa.model import PFSA

    m = PFSA(
        pitilde=[[0.7, 0.3], [0.4, 0.6]],
        connx=[[0, 1], [1, 0]],
        pfsa_id=0,
    )
    p1 = draw_pfsa_png(m, str(tmp_path / "a.png"), size=200)
    p2 = draw_pfsa_png(m, str(tmp_path / "b.png"), size=200)
    b1, b2 = open(p1, "rb").read(), open(p2, "rb").read()
    assert b1 == b2  # deterministic
    assert b1[:8] == b"\x89PNG\r\n\x1a\n"
    # IHDR: 200x200, 8-bit RGB
    w, h, depth, ctype = struct.unpack(">IIBB", b1[16:26])
    assert (w, h, depth, ctype) == (200, 200, 8, 2)
    # IDAT decompresses to H * (1 + W*3) filter-0 scanlines
    idat_off = b1.index(b"IDAT") + 4
    idat_len = struct.unpack(">I", b1[idat_off - 8:idat_off - 4])[0]
    raw = zlib.decompress(b1[idat_off:idat_off + idat_len])
    assert len(raw) == 200 * (1 + 200 * 3)
    # something was actually drawn (not a blank canvas)
    assert raw.count(b"\xff") < len(raw)


def test_generate_pfsa_pngs(spark, tmp_path):
    from patternly_spark.detection import StreamingDetection
    from patternly_spark.pfsa.model import PFSA
    from patternly_spark.pfsa.simulate import simulate

    machine = PFSA(pitilde=[[0.9, 0.1], [0.1, 0.9]], connx=[[0, 1], [1, 0]])
    seq = simulate(machine, 3000, 1, seed=2)[0]
    df = spark.createDataFrame(
        [(i, int(s)) for i, s in enumerate(seq)], "offset long, symbol int"
    )
    det = StreamingDetection(spark, window_size=300, quantize=False).fit(df)
    paths = det.generate_PFSA_pngs(str(tmp_path / "pngs"))
    assert len(paths) == len(det.library)
    for p in paths:
        assert open(p, "rb").read(8) == b"\x89PNG\r\n\x1a\n"
