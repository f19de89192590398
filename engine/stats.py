"""Single-pass per-column statistics.

The reference re-scans its arrays once per metric (MAE/RMSE/R2 at
``anomaly_detection.py:446-448``, histogram at ``:347-350``, min/max at
``:347,377``, mean/std at ``rnn_old.py:252-253``). At 10^12 rows every scan is
the dominant cost, so this module fuses ALL per-column statistics into one
``groupBy(bucket).agg(*exprs)`` pass whose per-bucket partials are **mergeable**:

  count / null_count / min / max / sum / sum_sq  -> algebraic merges
  ndv                                            -> HLL sketch (hll_sketch_agg,
                                                    merged with hll_union_agg)

so per-partition lineage stats and the global stats come from the SAME scan —
partial aggregation map-side, final merge reduce-side, exactly Spark's
partial+final agg model. Quantiles are not among these stats: drift counts
against percentile edges (engine/drift.py) and quantile thresholds use the
t-digest (engine/sketch.py).

mean = sum/count and var = sum_sq/count - mean^2 are derived at finalize time;
the two-pass-free formula trades a little numerical headroom for mergeability
(acceptable for drift/validation; values are doubles).

This is the one module that knows the partial format. ``validate()`` and
``column_stats`` finalize their own scan's partials; the resumable runner
(engine/checkpoint.py) stores each shard's merged partials as long lineage
rows (``to_lineage``) and reads them back through the same merge and
finalize (``lineage_stats``). So every entry point gives the same answer,
also on an empty input: count, null_count and approx_ndv 0, and null for
null_rate, min, max, mean and stddev.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

_NUMERIC = (
    T.ByteType, T.ShortType, T.IntegerType, T.LongType,
    T.FloatType, T.DoubleType, T.DecimalType,
)

#: each numeric partial and the aggregate that merges partials of it
_NUMERIC_MERGE = {"min": "min", "max": "max", "sum": "sum", "sumsq": "sum"}


def numeric_columns(df: DataFrame, columns: list[str]) -> list[str]:
    by_name = {f.name: f.dataType for f in df.schema.fields}
    return [c for c in columns if isinstance(by_name[c], _NUMERIC)]


def bucket_stat_exprs(df: DataFrame, columns: list[str]) -> list[Column]:
    """Mergeable per-bucket partial-stat expressions, aliased ``{col}__{stat}``.

    Built as SQL strings (one py4j call per expression) rather than nested
    Column objects — identical Catalyst expressions, a fraction of the
    driver-side construction chatter (guide §7.3: planning/analysis is
    single-threaded driver work paid inside every validate() call)."""
    nums = set(numeric_columns(df, columns))
    exprs: list[Column] = [F.expr("count(1) AS __rows")]
    for c in columns:
        exprs.append(F.expr(f"count(1) - count(`{c}`) AS `{c}__nulls`"))
        exprs.append(F.expr(
            f"hll_sketch_agg(CAST(`{c}` AS STRING)) AS `{c}__hll`"
        ))
        if c in nums:
            d = f"CAST(`{c}` AS DOUBLE)"
            exprs += [
                F.expr(f"min({d}) AS `{c}__min`"),
                F.expr(f"max({d}) AS `{c}__max`"),
                F.expr(f"sum({d}) AS `{c}__sum`"),
                F.expr(f"sum({d} * {d}) AS `{c}__sumsq`"),
            ]
    return exprs


def merge_bucket_stats(bucket_stats: DataFrame, columns: list[str], numeric: list[str]) -> DataFrame:
    """Merge per-bucket partials into global partials (one row; counts 0
    when there are no buckets)."""
    exprs: list[Column] = [F.expr("coalesce(sum(`__rows`), 0) AS `__rows`")]
    for c in columns:
        exprs.append(F.expr(f"coalesce(sum(`{c}__nulls`), 0) AS `{c}__nulls`"))
        exprs.append(F.expr(f"hll_union_agg(`{c}__hll`) AS `{c}__hll`"))
        if c in numeric:
            exprs += [
                F.expr(f"{agg}(`{c}__{m}`) AS `{c}__{m}`") for m, agg in _NUMERIC_MERGE.items()
            ]
    return bucket_stats.agg(*exprs)


def finalize_stats(global_stats: DataFrame, columns: list[str], numeric: list[str]) -> DataFrame:
    """Unpivot the one-row wide partials into ``(column_name, metric, value)``.

    One ``F.expr`` string for the whole explode(array(named_struct...)) —
    the same Catalyst tree the old per-struct Column building produced, in
    one py4j call instead of ~170 (see bucket_stat_exprs). Ratios over zero
    rows are null (``try_divide``), not a division error."""
    structs: list[str] = []

    def metric(c: str, m: str, v: str) -> str:
        return (
            f"named_struct('column_name', '{c}', 'metric', '{m}', "
            f"'value', CAST({v} AS DOUBLE))"
        )

    rows = "CAST(`__rows` AS DOUBLE)"
    for c in columns:
        nulls = f"CAST(`{c}__nulls` AS DOUBLE)"
        structs += [
            metric(c, "count", rows),
            metric(c, "null_count", nulls),
            metric(c, "null_rate", f"try_divide({nulls}, {rows})"),
            metric(c, "approx_ndv", f"hll_sketch_estimate(`{c}__hll`)"),
        ]
        if c in numeric:
            n = f"({rows} - {nulls})"
            mean = f"try_divide(`{c}__sum`, {n})"
            var = f"greatest(try_divide(`{c}__sumsq`, {n}) - {mean} * {mean}, 0.0D)"
            structs += [
                metric(c, "min", f"`{c}__min`"),
                metric(c, "max", f"`{c}__max`"),
                metric(c, "mean", mean),
                metric(c, "stddev", f"CASE WHEN {n} > 0 THEN sqrt({var}) END"),
            ]
    return (
        global_stats.select(
            F.expr(f"explode(array({', '.join(structs)})) AS s")
        ).select("s.column_name", "s.metric", "s.value")
    )


def to_lineage(bucket_stats: DataFrame, columns: list[str], numeric: list[str]) -> DataFrame:
    """The global partials of ``bucket_stats`` as long lineage rows
    ``(column_name, metric, value, hll)``: per column ``rows``, ``nulls``,
    ``hll`` (the sketch, in ``hll``) and for numeric columns ``min``,
    ``max``, ``sum`` and ``sumsq``."""
    structs: list[str] = []

    def row(c: str, m: str, value: str = "NULL", hll: str = "NULL") -> str:
        return (
            f"named_struct('column_name', '{c}', 'metric', '{m}', "
            f"'value', CAST({value} AS DOUBLE), 'hll', CAST({hll} AS BINARY))"
        )

    for c in columns:
        structs += [
            row(c, "rows", "`__rows`"),
            row(c, "nulls", f"`{c}__nulls`"),
            row(c, "hll", hll=f"`{c}__hll`"),
        ]
        if c in numeric:
            structs += [row(c, m, f"`{c}__{m}`") for m in _NUMERIC_MERGE]
    wide = merge_bucket_stats(bucket_stats, columns, numeric)
    return wide.select(F.expr(f"inline(array({', '.join(structs)}))"))


def lineage_stats(lineage: DataFrame) -> DataFrame:
    """Global ``(column_name, metric, value)`` stats from the lineage rows of
    any number of parts (``to_lineage`` output), through the same
    ``merge_bucket_stats`` -> ``finalize_stats`` as the one-scan path: each
    lineage row becomes a wide partial row holding its one field, and the
    merge's aggregates skip the nulls. A column is numeric when it has
    ``min`` rows; a part's row count is its first column's ``rows``."""
    layout = (
        lineage.groupBy("column_name")
        .agg(F.expr("bool_or(metric = 'min') AS numeric"))
        .orderBy("column_name")
        .collect()
    )
    if not layout:
        return lineage.select("column_name", "metric", "value").filter(F.lit(False))
    columns = [r["column_name"] for r in layout]
    numeric = [r["column_name"] for r in layout if r["numeric"]]

    def pick(c: str, m: str, field: str = "value") -> str:
        return f"CASE WHEN column_name = '{c}' AND metric = '{m}' THEN {field} END"

    exprs = [f"{pick(columns[0], 'rows')} AS `__rows`"]
    for c in columns:
        exprs += [
            f"{pick(c, 'nulls')} AS `{c}__nulls`",
            f"{pick(c, 'hll', 'hll')} AS `{c}__hll`",
        ]
        if c in numeric:
            exprs += [f"{pick(c, m)} AS `{c}__{m}`" for m in _NUMERIC_MERGE]
    wide = merge_bucket_stats(lineage.selectExpr(*exprs), columns, numeric)
    return finalize_stats(wide, columns, numeric)


def column_stats(df: DataFrame, columns: list[str] | None = None) -> DataFrame:
    """One-scan per-column stats: ``(column_name, metric, value)``.

    Convenience wrapper when per-bucket lineage isn't needed — single global
    agg (Spark still does partial+final under the hood).
    """
    columns = columns or df.columns
    numeric = numeric_columns(df, columns)
    one = df.agg(*bucket_stat_exprs(df, columns))
    return finalize_stats(one, columns, numeric)
