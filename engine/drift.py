"""Distribution-drift checks against a baseline snapshot, from exact counts.

Mechanizes the reference's train-fitted threshold state
(``anomaly_detection.py:453-456``: fit on train only, apply to test — §3.1
invariant a). ``fit_baseline`` runs two queries: one ``percentile_approx``
aggregate picks each numeric column's GRID (the 1 %...99 % percentiles, whose
distinct values are its bucket edges), then the counting query ``_counts``
counts the rows per numeric bucket (a JVM binary search, ``Bucketizer``) and
per categorical value. The snapshot keeps grids, counts and ``n_rows``.
``drift_check`` runs the same counting query on the current table — one
query, no Python stage — and compares the counts on the driver:

* KS is ``max |F_base(e) - F_cur(e)|`` over the edges ``e``, with ``F(e)``
  the exact share of values below ``e``. Between two edges each ECDF moves
  by at most its bucket's mass, so the reported KS is never above the exact
  two-sample KS and falls short of it by at most one bucket's mass on either
  side (``max_j max(p_base_j, p_cur_j)``); exact when every support point of
  a discrete column is an edge.
* PSI is ``categorical_psi`` over the baseline deciles (every PSI_STEP-th
  grid percentile), read off the same cumulative counts.
* Categorical PSI is ``categorical_psi`` of the category counts.

A numeric column with no non-null value on either side reports NaN (not
passed). Counting memory is bounded by the grid (numeric) and by the
distinct categories (categorical).
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
import pandas as pd
from pyspark.ml.feature import Bucketizer
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from engine.sketch import categorical_psi

#: baseline percentiles that place each numeric column's bucket edges
GRID = [i / 100 for i in range(1, 100)]
#: every PSI_STEP-th grid percentile bounds a PSI bucket (the deciles)
PSI_STEP = 10
#: written into every saved row; a snapshot in any other format is refused
FORMAT = "drift-edges-v1"

SNAPSHOT_SCHEMA = (
    "format string, snapshot_id string, column_name string, kind string, "
    "grid array<double>, keys array<string>, counts array<long>, n_rows long"
)


@dataclass
class Baseline:
    snapshot_id: str
    grids: dict[str, list[float]]  # numeric column -> its GRID percentiles
    bucket_counts: dict[str, list[int]]  # numeric column -> count per bucket
    cat_counts: dict[str, dict[str, int]]
    n_rows: int

    def to_rows(self) -> list[tuple]:
        """One row per column, in SNAPSHOT_SCHEMA order."""
        return [
            (FORMAT, self.snapshot_id, c, "numeric", g, None, self.bucket_counts[c],
             self.n_rows) for c, g in self.grids.items()
        ] + [
            (FORMAT, self.snapshot_id, c, "categorical", None, sorted(n),
             [n[k] for k in sorted(n)], self.n_rows) for c, n in self.cat_counts.items()
        ]


def edges(grid: list[float]) -> list[float]:
    """Bucket edges: the grid's distinct finite values, ascending (any edge
    is a valid ECDF point, so an empty grid gets the edge 0). Bucket ``j``
    holds ``[edges[j-1], edges[j])``, the outer two are open-ended."""
    return sorted({float(x) for x in grid if np.isfinite(x)}) or [0.0]


def _value(c: str):
    v = F.col(c).cast("double")
    return F.when(~F.isnan(v), v)


def _counts(df: DataFrame, grids: dict[str, list[float]],
            cat_cols: list[str]) -> list[dict[str, int]]:
    """Non-null counts of every column in ONE query, in ``[*grids,
    *cat_cols]`` order: per bucket index (numeric, as a string) or per value
    (categorical)."""
    n = len(grids)
    cols = df.select(*[_value(c).alias(f"v{j}") for j, c in enumerate(grids)],
                     *[F.col(c).cast("string").alias(f"c{j}") for j, c in enumerate(cat_cols)])
    if n:
        cols = Bucketizer(
            splitsArray=[[-np.inf, *edges(g), np.inf] for g in grids.values()],
            inputCols=[f"v{j}" for j in range(n)], outputCols=[f"b{j}" for j in range(n)],
            handleInvalid="keep",
        ).transform(cols)
    pairs = [F.struct(F.lit(j).alias("i"), F.when(F.col(f"v{j}").isNotNull(),
                      F.col(f"b{j}").cast("int").cast("string")).alias("k")) for j in range(n)]
    pairs += [F.struct(F.lit(n + j).alias("i"), F.col(f"c{j}").alias("k"))
              for j in range(len(cat_cols))]
    out: list[dict[str, int]] = [{} for _ in pairs]
    if pairs:
        for r in (cols.select(F.inline(F.array(*pairs))).where(F.col("k").isNotNull())
                  .groupBy("i", "k").count().collect()):
            out[r["i"]][r["k"]] = r["count"]
    return out


def _bucket_list(counts: dict[str, int], grid: list[float]) -> list[int]:
    return [counts.get(str(i), 0) for i in range(len(edges(grid)) + 1)]


def fit_baseline(
    df: DataFrame,
    numeric_cols: list[str],
    categorical_cols: list[str] | None = None,
    snapshot_id: str = "baseline_v1",
) -> Baseline:
    cats = categorical_cols or []
    r = df.agg(*[F.percentile_approx(_value(c), GRID).alias(f"g{j}")
                 for j, c in enumerate(numeric_cols)], F.count(F.lit(1)).alias("n")).first()
    grids = {c: r[f"g{j}"] or [] for j, c in enumerate(numeric_cols)}
    counts = _counts(df, grids, cats)
    return Baseline(snapshot_id, grids,
                    {c: _bucket_list(counts[j], g) for j, (c, g) in enumerate(grids.items())},
                    dict(zip(cats, counts[len(grids):])), r["n"])


def save_baseline(spark: SparkSession, b: Baseline, path: str) -> None:
    spark.createDataFrame(b.to_rows(), SNAPSHOT_SCHEMA).write.mode("overwrite").parquet(path)


def load_baseline(spark: SparkSession, path: str, snapshot_id: str | None = None) -> Baseline:
    """Load one snapshot (without ``snapshot_id`` the file must hold exactly
    one). A missing snapshot, an empty file or another format (such as the
    older t-digest snapshots) raise ``ValueError``."""
    df = spark.read.parquet(path)
    rows = df.collect()
    if "format" not in df.columns or any(r["format"] != FORMAT for r in rows):
        old = "a t-digest" if "tdigest" in df.columns else "another"
        raise ValueError(f"{path} holds {old} baseline format, not {FORMAT}; refit it")
    ids = sorted({r["snapshot_id"] for r in rows})
    if snapshot_id is None and len(ids) == 1:
        snapshot_id = ids[0]
    rows = [r for r in rows if r["snapshot_id"] == snapshot_id]
    if not rows:
        raise ValueError(f"baseline snapshot {snapshot_id!r} not found in {path}; "
                         f"snapshots present: {ids}")
    b = Baseline(snapshot_id, {}, {}, {}, rows[0]["n_rows"])
    for r in rows:
        if r["kind"] == "numeric":
            b.grids[r["column_name"]] = list(r["grid"])
            b.bucket_counts[r["column_name"]] = list(r["counts"])
        else:
            b.cat_counts[r["column_name"]] = dict(zip(r["keys"], r["counts"]))
    return b


def _ks_psi(grid: list[float], base: list[int], cur: list[int]) -> tuple[float, float]:
    base_cum, cur_cum = np.cumsum(base), np.cumsum(cur)  # cum[j]: values < edges[j]
    if not base_cum[-1] or not cur_cum[-1]:
        return float("nan"), float("nan")
    ks = np.abs(base_cum[:-1] / base_cum[-1] - cur_cum[:-1] / cur_cum[-1]).max()
    cut = np.searchsorted(edges(grid), edges(grid[PSI_STEP - 1::PSI_STEP]))

    def deciles(cum: np.ndarray) -> dict[int, int]:
        return dict(enumerate(np.diff(cum[cut], prepend=0, append=cum[-1])))

    return float(ks), categorical_psi(deciles(base_cum), deciles(cur_cum))


def drift_check(
    current: DataFrame,
    baseline: Baseline,
    ks_threshold: float = 0.1,
    psi_threshold: float = 0.1,
) -> pd.DataFrame:
    """Returns one row per (column, metric): value + pass/fail. The current
    table is counted in one query against the baseline's edges."""
    grids, cats = baseline.grids, baseline.cat_counts
    counts = _counts(current, grids, list(cats))
    rows = []
    for j, (c, g) in enumerate(grids.items()):
        k, p = _ks_psi(g, baseline.bucket_counts[c], _bucket_list(counts[j], g))
        rows.append(dict(column_name=c, metric="ks", value=k, passed=k <= ks_threshold))
        rows.append(dict(column_name=c, metric="psi", value=p, passed=p <= psi_threshold))
    for j, c in enumerate(cats):
        p = categorical_psi(cats[c], counts[len(grids) + j])
        rows.append(dict(column_name=c, metric="psi_categorical", value=p,
                         passed=p <= psi_threshold))
    return pd.DataFrame(rows)
