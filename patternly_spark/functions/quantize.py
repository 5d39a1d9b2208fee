"""Quantization: continuous values -> small-int symbols (SURVEY F1-F7).

Reference semantics (``patternly/detection.py:272-308``):

- ``simple``        : first difference along time, fillna(0), then
                      1 if diff > 0 else 0                       (F1+F2)
- ``simple-second`` : difference twice (fillna(0) between), then sign (F3)
- ``complex``       : entropy-max quantile binning — cut-points chosen so
                      bins are equi-probable (``tex/ms.tex:293-294``),
                      optional detrend first                     (F4)
- passthrough       : cast to tinyint                            (F5)

Two equal implementations of the complex quantizer:

- column expressions (JVM-side, whole-stage codegen): the cut-points are
  one Spark SQL ``percentile`` aggregate (exact, interpolated, so results
  hash-match a DuckDB ``quantile_cont`` oracle) and the symbols
  ``symbol_from_cutpoints`` over ``array_diff``.  The Spark fit path uses
  them.
- numpy over an Arrow list column: ``fit_cutpoints_local`` and
  ``symbolize_local`` compute what the aggregate and those expressions
  compute, bit for bit, where the series already are: on the driver for a
  driver-sized fit, and inside predict's scoring task.
"""

from __future__ import annotations

import math
from dataclasses import dataclass, field

import numpy as np

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def _diff_sign(diff: Column) -> Column:
    # reference: `1 if n > 0 else 0` (detection.py:292) — NaN/None -> 0
    return F.when(diff > 0, F.lit(1)).otherwise(F.lit(0)).cast("tinyint")


def quantize_simple_long(
    df: DataFrame,
    value_col: str = "value",
    *,
    partition_cols: list[str] | None = None,
    order_col: str = "t",
    out_col: str = "symbol",
    second: bool = False,
) -> DataFrame:
    """F1/F2/F3 on the long layout (seq_id, t, value).

    symbol = sign(first or second difference) along the time axis within
    each sequence; first element(s) quantize to 0 exactly as the
    reference's fillna(0) does.
    """
    parts = partition_cols or ["seq_id"]
    order = order_col if isinstance(order_col, list) else [order_col]
    w = Window.partitionBy(*parts).orderBy(*order)
    d1 = F.col(value_col).cast("double") - F.lag(F.col(value_col).cast("double"), 1, None).over(w)
    d1 = F.coalesce(d1, F.lit(0.0))
    if not second:
        return df.withColumn(out_col, _diff_sign(d1))
    df2 = df.withColumn("__d1", d1)
    d2 = F.col("__d1") - F.lag("__d1", 1, None).over(w)
    d2 = F.coalesce(d2, F.lit(0.0))
    return df2.withColumn(out_col, _diff_sign(d2)).drop("__d1")


def array_diff(col: Column) -> Column:
    """First difference along an array with fillna(0) semantics for the
    first element: shifted = [v0, v0, v1, ..., v_{n-2}], diff_i = v_i -
    shifted_i (so diff_0 = 0).  Pure array expression — zero shuffle."""
    shifted = F.concat(F.slice(col, 1, 1), F.slice(col, 1, F.greatest(F.size(col) - 1, F.lit(0))))
    return F.zip_with(col, shifted, lambda a, b: a - b)


def quantize_simple_array(
    df: DataFrame,
    values_col: str = "values",
    *,
    out_col: str = "symbols",
    second: bool = False,
) -> DataFrame:
    """F1/F2/F3 on the array layout (seq_id, values array<double>).

    Pure array expressions — zero shuffle, codegen-friendly.
    """
    d = array_diff(F.col(values_col))
    if second:
        d = array_diff(d)
    syms = F.transform(d, lambda x: F.when(x > 0, F.lit(1)).otherwise(F.lit(0)).cast("tinyint"))
    return df.withColumn(out_col, syms)


#: relative-error target for the approx percentile path; 1/APPROX_ACCURACY
#: is the rank error bound of the underlying KLL/GK sketch.
APPROX_ACCURACY = 1_000_000


def percentile_expr(value_col: str, probs: list[float], *, exact: bool = True) -> Column:
    """Equi-probable cut-point aggregate.

    exact=True  -> Spark SQL ``percentile`` (interpolated; hash-matches a
                   DuckDB ``quantile_cont`` oracle) — collects every value
                   into one aggregation buffer, so it is a single-executor
                   memory hazard beyond ~10^8 rows.
    exact=False -> ``approx_percentile`` with accuracy pinned at
                   APPROX_ACCURACY: a bounded-memory mergeable sketch, the
                   documented default at 100 TB scale.  Cut-points land
                   within 1/APPROX_ACCURACY rank error of exact; downstream
                   symbols can differ only for values inside that band.
    """
    arr = ", ".join(f"{p!r}D" for p in probs)
    if exact:
        return F.expr(f"percentile({value_col}, array({arr}))")
    return F.expr(f"approx_percentile({value_col}, array({arr}), {APPROX_ACCURACY})")


def fit_complex_cutpoints(
    df: DataFrame,
    value_col: str = "value",
    *,
    n_symbols: int = 2,
    detrend: bool = False,
    exact: "bool | str" = True,
    partition_cols: list[str] | None = None,
    order_col: str = "t",
) -> list[float]:
    """F4 fit: equi-probable cut-points (entropy maximization —
    ``tex/ms.tex:293-294``): k-1 interior quantiles at i/k.  See
    ``percentile_expr`` for the exact-vs-approx scale trade;
    ``exact="distributed"`` fits EXACT cut-points without the
    single-buffer hazard (``exact_percentile_distributed`` — the
    100 TB shape when exact symbols are required)."""
    work = df
    if detrend:
        work = quantize_detrend_long(df, value_col, partition_cols=partition_cols, order_col=order_col)
        value_col = "__detrended"
    probs = [i / n_symbols for i in range(1, n_symbols)]
    if exact == "distributed":
        return [
            float(c)
            for c in exact_percentile_distributed(work, value_col, probs)
        ]
    row = work.select(percentile_expr(value_col, probs, exact=exact).alias("cuts")).first()
    return [float(c) for c in row["cuts"]]


def quantize_detrend_long(
    df: DataFrame,
    value_col: str = "value",
    *,
    partition_cols: list[str] | None = None,
    order_col: str = "t",
) -> DataFrame:
    parts = partition_cols or ["seq_id"]
    w = Window.partitionBy(*parts).orderBy(order_col)
    d1 = F.col(value_col).cast("double") - F.lag(F.col(value_col).cast("double"), 1, None).over(w)
    return df.withColumn("__detrended", F.coalesce(d1, F.lit(0.0)))


def symbol_from_cutpoints(value: Column, cutpoints: list[float]) -> Column:
    """value < p1 -> 0, [p_i, p_{i+1}) -> i, >= p_{k-1} -> k-1
    (``tex/ms.tex`` partition definition).  Expressed as a sum of
    comparisons — branch-free, codegen-friendly."""
    sym = F.lit(0)
    for c in cutpoints:
        sym = sym + F.when(value >= F.lit(c), 1).otherwise(0)
    return sym.cast("tinyint")


def apply_complex_cutpoints_long(
    df: DataFrame,
    cutpoints: list[float],
    value_col: str = "value",
    *,
    out_col: str = "symbol",
    detrend: bool = False,
    partition_cols: list[str] | None = None,
    order_col: str = "t",
) -> DataFrame:
    work = df
    col = F.col(value_col).cast("double")
    if detrend:
        work = quantize_detrend_long(df, value_col, partition_cols=partition_cols, order_col=order_col)
        col = F.col("__detrended")
    out = work.withColumn(out_col, symbol_from_cutpoints(col, cutpoints))
    return out.drop("__detrended") if detrend else out


def alphabet_size_col(symbols_col: str = "symbols") -> Column:
    """F6 — reference quirk preserved: alphabet_size = max(symbol)+1
    (``np.bincount(row).size``, detection.py:133-136), NOT the distinct
    count."""
    return (F.array_max(F.col(symbols_col)).cast("int") + F.lit(1)).alias("alphabet_size")


@dataclass
class Quantizer:
    """Fitted quantizer state (mirrors the reference's persisted Quantizer
    params, ``detection.py:189-190,:223-226``): mode + cut-points."""

    quantize_type: str = "complex"  # simple | simple-second | complex | none
    n_symbols: int = 2
    detrend: bool = False
    #: exact percentile for oracle bit-parity; False = approx_percentile
    #: sketch, the bounded-memory choice at scale (see percentile_expr)
    exact: bool = True
    cutpoints: list[float] = field(default_factory=list)
    fitted: bool = False

    def fit(self, df: DataFrame, value_col: str = "value", **kw) -> "Quantizer":
        if self.quantize_type == "complex":
            self.cutpoints = fit_complex_cutpoints(
                df, value_col, n_symbols=self.n_symbols, detrend=self.detrend,
                exact=self.exact, **kw
            )
        self.fitted = True
        return self

    def transform_long(self, df: DataFrame, value_col: str = "value", **kw) -> DataFrame:
        if self.quantize_type == "none":
            return df.withColumn("symbol", F.col(value_col).cast("tinyint"))
        if self.quantize_type in ("simple", "simple-second"):
            return quantize_simple_long(
                df, value_col, second=(self.quantize_type == "simple-second"), **kw
            )
        if not self.fitted:
            raise ValueError("complex quantizer must be fit first")
        return apply_complex_cutpoints_long(df, self.cutpoints, value_col, detrend=self.detrend, **kw)

    def to_dict(self) -> dict:
        return {
            "quantize_type": self.quantize_type,
            "n_symbols": self.n_symbols,
            "detrend": self.detrend,
            "exact": self.exact,
            "cutpoints": list(self.cutpoints),
            "fitted": self.fitted,
        }

    @classmethod
    def from_dict(cls, d: dict) -> "Quantizer":
        return cls(**d)


def exact_percentile_distributed(
    df,
    value_col: str,
    probs: list[float],
    *,
    bracket_cap: int = 1_000_000,
) -> list[float]:
    """EXACT interpolated percentiles without the single-buffer hazard —
    the third mode beside ``percentile_expr``'s exact (one aggregation
    buffer holds every value: fine at test scale, a driver-memory wall
    at 100 TB) and approx (bounded error): bracket-and-collect.

    Per probe: the needed order statistics are rank floor(1+(n-1)p) and
    its successor (SQL ``percentile`` interpolation semantics).  Pass 1
    computes n and an ``approx_percentile`` bracket around each target;
    pass 2 counts values strictly below each bracket and collects the
    in-bracket values (widening the bracket in the rare case the sketch
    bound missed the rank, or narrowing via re-bracketing when a
    heavy-duplicate bracket exceeds ``bracket_cap``); the exact order
    statistics are then read off the sorted in-bracket slice.  Two to
    three corpus passes total, driver memory bounded by ``bracket_cap``
    — never by corpus size.

    Returns interpolated percentile values (same numbers as SQL
    ``percentile``, pinned by tests incl. duplicate-heavy columns).
    NULL rows are ignored; NaN rows COUNT and sort last — Spark's
    ``percentile`` quirk (NaN is larger than any value), replicated so
    this is a drop-in for ``percentile_expr(exact=True)``.
    """
    import math

    from pyspark.sql import functions as F

    work = df.select(F.col(value_col).cast("double").alias("__v")).filter(
        F.col("__v").isNotNull()
    )
    n = work.count()
    if n == 0:
        return [None for _ in probs]
    out: list[float] = []
    # one approx pass brackets every probe at once
    eps = 1.0 / float(10_000)
    lo_hi = work.select(
        F.expr(
            "approx_percentile(__v, array({}), {})".format(
                ", ".join(
                    f"{max(0.0, min(1.0, q)):.10f}"
                    for p in probs
                    for q in (p - 0.01, p + 0.01)
                ),
                10_000,
            )
        ).alias("b")
    ).first()["b"]
    for idx, p in enumerate(probs):
        rank = 1 + (n - 1) * float(p)  # 1-based, fractional
        k = int(rank)
        need = [k, min(k + 1, n)]
        lo, hi = float(lo_hi[2 * idx]), float(lo_hi[2 * idx + 1])
        widened = False
        while True:
            if widened:
                # full relation: no value predicate — NaN sorts past
                # +Infinity in Spark, so even (-inf, inf) bounds would
                # exclude it and loop forever on a NaN-rank target
                below, in_bracket = 0, work
            else:
                below = work.filter(F.col("__v") < lo).count()
                in_bracket = work.filter(
                    (F.col("__v") >= lo) & (F.col("__v") <= hi)
                )
            m = in_bracket.count()
            if below >= need[0] or below + m < need[1]:
                widened = True  # sketch bound missed the rank
                continue
            if m > bracket_cap:
                raise ValueError(
                    f"percentile bracket holds {m} values (> {bracket_cap}): "
                    "heavy duplicates at the target rank; raise bracket_cap"
                )
            vals = sorted(
                (r["__v"] for r in in_bracket.collect()),
                key=lambda v: (math.isnan(v), v),
            )
            ks = [vals[need[0] - below - 1], vals[need[1] - below - 1]]
            break
        frac = rank - k
        out.append(float(ks[0]) + (float(ks[1]) - float(ks[0])) * frac)
    return out


def spark_le(a: float, b: float) -> bool:
    """``a <= b`` in Spark's order of doubles, where NaN is above every
    number and equal to itself."""
    return math.isnan(b) or (not math.isnan(a) and a <= b)


def _local_values(col, detrend: bool):
    """(values, offsets, present) of each Arrow chunk of a list column of
    numbers, as float64 (``plans.list_parts``), first-differenced per row
    as ``array_diff`` does when ``detrend``: the first element's
    difference is 0, and a difference with a null operand is null."""
    from patternly_spark.plans import list_parts

    for chunk in getattr(col, "chunks", [col]):
        x, offsets, present = list_parts(chunk)
        x = x.astype(np.float64, copy=False)
        if detrend:
            starts = offsets[:-1][np.diff(offsets) > 0]
            prev = np.empty_like(x)
            prev[1:] = x[:-1]
            prev[starts] = x[starts]
            x = x - prev
            if present is not None:
                prev = np.empty_like(present)
                prev[1:] = present[:-1]
                prev[starts] = present[starts]
                present = present & prev
        yield x, offsets, present


def fit_cutpoints_local(col, n_symbols: int, detrend: bool) -> tuple[list[float] | None, int]:
    """The complex cut-points of an Arrow list column of series, as the
    ``percentile_expr(exact=True)`` aggregate over all of its elements
    computes them, and the alphabet size they give (a value's symbol is
    the number of cut-points ``spark_le`` it, and alphabet = largest
    symbol + 1).

    Spark's ``percentile`` skips nulls, sorts NaN after every number,
    takes the order statistics at floor and ceil of (n-1)*p, and returns
    the lower one when the two are equal, else
    ``(hi - pos) * lower + (pos - lo) * upper``.  It sorts -0.0 and 0.0
    as equal keys in its hash map's order, so when both occur and a
    cut-point is a zero whose sign depends on which sorts first, it is
    not decidable here: the cut-points are then None."""
    v = np.concatenate([x if present is None else x[present] for x, _, present in _local_values(col, detrend)])
    n = v.size
    if n == 0:
        raise ValueError("complex quantizer: no values to fit the cut-points on")
    pos = [float(n - 1) * (i / n_symbols) for i in range(1, n_symbols)]
    ranks = sorted({r for q in pos for r in (math.floor(q), math.ceil(q))})
    top = float("nan") if np.isnan(v).any() else float(v.max())
    zero = v == 0.0
    zeros, negative = int(np.count_nonzero(zero)), int(np.count_nonzero(np.signbit(v[zero])))
    below = int(np.count_nonzero(v < 0.0))
    v.partition(ranks)  # in place; NaN last, as Spark orders it

    def at(r: int, negative_first: bool) -> float:
        # the zeros sort as equal keys, either sign first
        if 0 < negative < zeros and below <= r < below + zeros:
            first, count = (-0.0, negative) if negative_first else (0.0, zeros - negative)
            return first if r - below < count else -first
        return float(v[r])

    def cut(q: float, negative_first: bool) -> float:
        lo, hi = math.floor(q), math.ceil(q)
        a, b = at(lo, negative_first), at(hi, negative_first)
        return a if lo == hi or a == b else (hi - q) * a + (q - lo) * b

    cuts = [cut(q, True) for q in pos]
    if any(repr(c) != repr(cut(q, False)) for c, q in zip(cuts, pos)):
        return None, 0
    return cuts, 1 + sum(spark_le(c, top) for c in cuts)


def symbolize_local(col, cutpoints: list[float], detrend: bool) -> tuple[np.ndarray, np.ndarray]:
    """Symbols of an Arrow list column of series, as
    ``symbol_from_cutpoints`` over ``array_diff`` (when ``detrend``)
    gives them: the number of cut-points ``c`` with ``value >= c`` in
    Spark's order (NaN above every number; -0.0 equal to 0.0), and 0 for
    a null element.  Returns (int8 symbols of every row, concatenated;
    row offsets): row i is ``symbols[offsets[i]:offsets[i + 1]]``, and a
    null row is empty."""
    syms, offsets, base = [], [np.zeros(1, dtype=np.int64)], 0
    for x, offs, present in _local_values(col, detrend):
        sym = np.zeros(x.size, dtype=np.int8)
        for c in cutpoints:
            if not math.isnan(c):  # x >= NaN holds only for NaN x
                sym += x >= c
        sym[np.isnan(x)] = len(cutpoints)
        if present is not None:
            sym[~present] = 0
        syms.append(sym)
        offsets.append(offs[1:] + base)
        base += x.size
    return (syms[0] if len(syms) == 1 else np.concatenate(syms)), np.concatenate(offsets)
