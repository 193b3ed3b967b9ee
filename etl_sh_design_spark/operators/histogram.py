"""Histogram / profile / efficiency operators (SURVEY.md §2.4 A10-A16, J7).

The reference fills yahist/hist histograms eagerly
(bias_voltage.py:272-283, dee_geometry.py:616-699); here a histogram is
a groupBy on a computed bin index — a single partial+final aggregation,
shuffle size = number of bins (tiny) regardless of input scale.

Bin spec mirrors the reference's "nbins,lo,hi" strings.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


@dataclass(frozen=True)
class BinSpec:
    """Regular binning: nbins in [lo, hi); out-of-range rows are
    DROPPED by histogram1d/2d/profile (via ``in_range``), not clipped.
    ``bin_of`` alone yields out-of-range bin indices (<0 or >=nbins)
    for such rows — always pair it with ``in_range``."""

    nbins: int
    lo: float
    hi: float

    @property
    def width(self) -> float:
        return (self.hi - self.lo) / self.nbins

    def bin_of(self, col: str | Column) -> Column:
        c = F.col(col) if isinstance(col, str) else col
        return F.floor((c - self.lo) / self.width).cast("bigint")

    def center_of(self, bin_col: str | Column) -> Column:
        b = F.col(bin_col) if isinstance(bin_col, str) else bin_col
        return self.lo + (b.cast("double") + 0.5) * self.width

    def in_range(self, col: str | Column) -> Column:
        c = F.col(col) if isinstance(col, str) else col
        return (c >= self.lo) & (c < self.hi)

    @classmethod
    def parse(cls, spec: str) -> "BinSpec":
        """Parse the reference's '10,0,1' bin-spec string."""
        n, lo, hi = spec.split(",")
        return cls(int(n), float(lo), float(hi))

    # SQL fragments for the DuckDB oracle
    def bin_sql(self, expr: str) -> str:
        return f"CAST(floor(({expr} - {self.lo}) / {self.width}) AS BIGINT)"

    def center_sql(self, bin_expr: str) -> str:
        return f"({self.lo} + (CAST({bin_expr} AS DOUBLE) + 0.5) * {self.width})"

    def range_sql(self, expr: str) -> str:
        return f"({expr} >= {self.lo} AND {expr} < {self.hi})"


def histogram1d(df: DataFrame, col: str, spec: BinSpec, weight: str | None = None) -> DataFrame:
    """A10: 1-D histogram -> (bin, bin_center, cnt [, wsum])."""
    out = (
        df.filter(spec.in_range(col))
        .groupBy(spec.bin_of(col).alias("bin"))
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            *([F.sum(weight).alias("wsum")] if weight else []),
        )
        .withColumn("bin_center", spec.center_of("bin"))
    )
    cols = ["bin", "bin_center", "cnt"] + (["wsum"] if weight else [])
    return out.select(*cols)


def histogram2d(df: DataFrame, xcol: str, xspec: BinSpec, ycol: str, yspec: BinSpec) -> DataFrame:
    """A11: 2-D histogram -> (bin_x, bin_y, cnt)."""
    return (
        df.filter(xspec.in_range(xcol) & yspec.in_range(ycol))
        .groupBy(
            xspec.bin_of(xcol).alias("bin_x"),
            yspec.bin_of(ycol).alias("bin_y"),
        )
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def profile(df: DataFrame, bin_cols: list, value: str) -> DataFrame:
    """A12: mean of `value` per bin -> (bins..., cnt, mean_<value>).

    `bin_cols` is a list of (name, Column) pairs or plain column names.
    Marginalization = re-profile with fewer bin columns.
    """
    keys = [c if isinstance(c, Column) else F.col(c) for c in bin_cols]
    names = [c._jc.toString() if isinstance(c, Column) else c for c in bin_cols]
    return df.groupBy(*[k.alias(n) for k, n in zip(keys, names)]).agg(
        F.count(F.lit(1)).alias("cnt"),
        F.avg(value).alias(f"mean_{value}"),
    )


def efficiency(n_num: str | Column, n_den: str | Column) -> tuple[Column, Column]:
    """J7: per-bin efficiency ``eff = n_num / n_den`` and its binomial
    error ``sqrt(eff * (1 - eff) / n_den)`` (example.ipynb cell16-17
    `num.divide(den, binomial=True)`). Count both in the one
    aggregation that bins the rows, e.g. ``count_if(pass)`` beside
    ``count(*)``: no second scan and no join of two histograms."""
    n = F.col(n_num) if isinstance(n_num, str) else n_num
    d = F.col(n_den) if isinstance(n_den, str) else n_den
    eff = n / d
    return eff, F.sqrt(eff * (1 - eff) / d)


def histogram_mean(hist: DataFrame, center: str = "bin_center", cnt: str = "cnt") -> DataFrame:
    """A16: mean from binned data = sum(center*cnt)/sum(cnt)."""
    return hist.agg(
        (F.sum(F.col(center) * F.col(cnt)) / F.sum(cnt)).alias("hist_mean")
    )
