"""The suite compiler: ConstraintSuite -> Spark jobs -> verdicts.

``run_suite`` is the only place a suite is compiled. ``runner.validate``
runs it over the whole table, ``checkpoint.CheckpointedRunner.run`` over
one shard at a time and ``streaming.stream_validate`` over one micro-batch
at a time. It produces the reference's verdict contract — pass/fail +
violation count + exact violating keys (``anomaly_detection.py:462-465``) —
per deterministic partition bucket and globally, in the minimum number of
jobs:

  job 1 (ONE scan of the fact table): every row-local constraint as a fused
         conditional aggregation, plus all per-column stats partials
         (engine/stats.py), grouped by a deterministic bucket id.
  job 2 (only if Unique constraints): groupBy on the pruned key columns.
  job 3 (only if RefIntegrity): LEFT ANTI JOIN against the keys table
         (broadcast if small, shuffle-hash otherwise — AQE decides).
  job 4 (only if PayloadCheck): ONE Arrow-UDF decode pass over the binary
         column (engine/audio.py), which also absorbs NotNull(bytes); every
         payload flag rolls up in one groupBy over its cached result.

The bucket id is ``pmod(xxhash64(key), n_buckets)`` — a *logical* partition
that is stable across cluster sizes, partition counts, and resume boundaries
(unlike ``spark_partition_id()``), so per-partition verdicts compare equal
between a local[8] run, a local[32] run, and a resumed run. Every job,
the payload pass included, uses this one expression. Per-bucket (or
per-shard, per-micro-batch) rows become global verdicts through one roll-up,
``rollup_verdicts``, which every entry point shares.

Violation DataFrames are returned lazily (un-materialized plans); callers
decide whether to count, sample, or persist them.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from engine import stats as stats_mod
from engine.suite import (
    ConstraintSuite,
    NotNull,
    PayloadCheck,
    RefIntegrity,
    RowInvariant,
    Unique,
)

BUCKET = "bucket_id"


class LazyFrames(dict):
    """dict whose values may be zero-arg DataFrame factories, built on first
    access. Per-constraint violation DataFrames are rarely all consumed, but
    each one costs a driver-side plan analysis to construct — at ~40
    DataFrame ops per suite that analysis chatter was a measurable slice of
    every validate() call (guide §7.3: planning is single-threaded driver
    work). Factories keep SuiteResult.violations' dict contract
    (``[key]``, ``items()``, assignment) while deferring construction."""

    def __getitem__(self, k):
        v = super().__getitem__(k)
        if callable(v) and not hasattr(v, "columns"):
            v = v()
            super().__setitem__(k, v)
        return v

    def items(self):  # materializes — prefer iterating keys and indexing
        return [(k, self[k]) for k in list(super().keys())]

    def values(self):
        return [self[k] for k in list(super().keys())]


def bucket_expr(key_cols: list[str], n_buckets: int) -> Column:
    """Deterministic logical-partition id: pmod(xxhash64(keys), n)."""
    return F.pmod(F.xxhash64(*[F.col(c) for c in key_cols]), F.lit(n_buckets)).cast("int")


def suite_passed_expr(suite: ConstraintSuite | None) -> Column:
    """pass/fail from (constraint, violation_count, rows_scanned) columns:
    NotNull honors its max_null_rate tolerance; everything else (and every
    constraint when ``suite`` is None) needs 0 violations."""
    rate_entries = []
    for c in suite.of_type(NotNull) if suite is not None else []:
        rate_entries += [F.lit(c.name), F.lit(float(c.max_null_rate))]
    allowed_rate = (
        F.coalesce(F.create_map(*rate_entries)[F.col("constraint")], F.lit(0.0))
        if rate_entries
        else F.lit(0.0)
    )
    return (
        F.col("violation_count") / F.greatest(F.col("rows_scanned"), F.lit(1))
    ) <= allowed_rate


def rollup_verdicts(parts: DataFrame, suite: ConstraintSuite | None) -> DataFrame:
    """Global verdicts from per-part rows — buckets, checkpoint shards or
    streamed micro-batches: sum per constraint, then ``suite_passed_expr``.
    The one roll-up every entry point uses, so a sharded, resumed or streamed
    run's flags provably match an uninterrupted batch run."""
    return (
        parts.groupBy("constraint")
        .agg(
            F.sum("violation_count").cast("long").alias("violation_count"),
            F.sum("rows_scanned").cast("long").alias("rows_scanned"),
        )
        .withColumn("passed", suite_passed_expr(suite))
    )


def _violation_expr(c, df: DataFrame) -> Column:
    if isinstance(c, RowInvariant):
        return c.violation_expr_for(df)
    return c.violation_expr()


def row_local_violations_union(
    fact: DataFrame, row_local: list, key_cols: list[str]
) -> DataFrame:
    """ALL row-local violation rows in ONE scan: per row, build an array of
    (constraint, value) structs for the constraints it violates, filter out
    nulls, explode. At 10^12 rows this replaces k per-constraint scans with
    one — violations are rare, so the exploded output is tiny."""
    structs = [
        F.when(
            _violation_expr(c, fact),
            F.struct(
                F.lit(c.name).alias("constraint"),
                (
                    F.col(getattr(c, "column", None)).cast("string")
                    if getattr(c, "column", None)
                    else F.lit(None).cast("string")
                ).alias("offending_value"),
            ),
        )
        for c in row_local
    ]
    hits = F.filter(F.array(*structs), lambda s: s.isNotNull())
    return (
        fact.select(*key_cols, F.col(BUCKET), F.explode(hits).alias("v"))
        .select(*key_cols, "v.constraint", "v.offending_value", BUCKET)
    )


@dataclass
class SuiteResult:
    """Outcome of one suite run. Holds the frames ``run_suite`` persisted;
    ``close()`` (or leaving a ``with`` block) releases them."""

    verdicts: DataFrame            # (constraint, violation_count, rows_scanned, passed)
    partition_verdicts: DataFrame  # (bucket_id, constraint, violation_count, rows_scanned, passed)
    violations: dict[str, DataFrame] = field(default_factory=LazyFrames)
    stats: DataFrame | None = None           # (column_name, metric, value)
    bucket_stats: DataFrame | None = None    # wide per-bucket partials (lineage)
    violations_union: DataFrame | None = None  # all row-local violations, one scan
    all_violations: DataFrame | None = None    # every violation source unioned
    persisted: list[DataFrame] = field(default_factory=list, repr=False)

    def quarantine(self, path: str, mode: str = "overwrite") -> str:
        """Write every violating row to a quarantine table PARTITIONED BY
        constraint — the triage output of a validation run: downstream jobs
        read one constraint's rows with a partition-pruned scan instead of
        refiltering the fact table, and the violating keys survive the run
        for exclusion lists / repair queues. One action (the violation
        sources are already unioned into one plan)."""
        if self.all_violations is None:
            raise ValueError("no violation sources (all_violations unset)")
        self.all_violations.write.mode(mode).partitionBy("constraint").parquet(path)
        return path

    def close(self) -> None:
        """Unpersist the per-bucket partials, duplicate groups, dangling rows
        and payload-pass results this run cached. The result frames stay
        usable; they recompute from source."""
        for df in self.persisted:
            df.unpersist()
        self.persisted.clear()

    def __enter__(self) -> "SuiteResult":
        return self

    def __exit__(self, *exc) -> None:
        self.close()


def _long_verdicts(wide: DataFrame, names: list[str]) -> DataFrame:
    """Per-bucket wide counts (``__rows`` + ``__v__{i}`` per name) to long
    (bucket_id, constraint, violation_count, rows_scanned) rows."""
    structs = [
        F.struct(
            F.lit(n).alias("constraint"),
            F.col(f"__v__{i}").cast("long").alias("violation_count"),
        )
        for i, n in enumerate(names)
    ]
    return wide.select(
        BUCKET,
        F.col("__rows").cast("long").alias("rows_scanned"),
        F.explode(F.array(*structs)).alias("v"),
    ).select(BUCKET, "v.constraint", "v.violation_count", "rows_scanned")


def _count_if(cond: Column, alias: str) -> Column:
    return F.sum(F.when(cond, 1).otherwise(0)).alias(alias)


def run_suite(
    df: DataFrame,
    suite: ConstraintSuite,
    key_cols: list[str],
    refs: dict[str, DataFrame] | None = None,
    n_buckets: int = 32,
    stat_columns: list[str] | None = None,
    broadcast_refs: bool = True,
) -> SuiteResult:
    refs = refs or {}
    payload = suite.of_type(PayloadCheck)
    # the payload pass reads the binary column anyway: NotNull(bytes) folds
    # into it so the fused scan never has to read `bytes`
    folded = [c for c in suite.of_type(NotNull) if c.column == "bytes"] if payload else []
    folded_names = {c.name for c in folded}
    row_local = [c for c in suite.row_local() if c.name not in folded_names]
    uniques = suite.of_type(Unique)
    ris = suite.of_type(RefIntegrity)

    bucket = bucket_expr(key_cols, n_buckets)
    fact = df.withColumn(BUCKET, bucket)
    persisted: list[DataFrame] = []

    # ---- job 1: fused row-local checks + column stats, one scan -------------
    check_exprs = [
        _count_if(_violation_expr(c, fact), f"__v__{i}")
        for i, c in enumerate(row_local)
    ]
    stat_columns = stat_columns if stat_columns is not None else df.columns
    numeric = stats_mod.numeric_columns(df, stat_columns)
    stat_exprs = stats_mod.bucket_stat_exprs(df, stat_columns)
    # persist the per-bucket partials: they are tiny (n_buckets rows) but feed
    # three consumers (partition verdicts, global stats, bucket_rows joins) —
    # without this the full fact-table scan re-runs once per consumer
    bucket_wide = fact.groupBy(BUCKET).agg(*stat_exprs, *check_exprs).persist()
    persisted.append(bucket_wide)

    parts: list[DataFrame] = []
    if row_local:
        parts.append(_long_verdicts(bucket_wide, [c.name for c in row_local]))

    # global stats derived from the SAME scan's partials
    if stat_columns:
        global_wide = stats_mod.merge_bucket_stats(
            bucket_wide.drop(*[f"__v__{i}" for i in range(len(row_local))], BUCKET),
            stat_columns,
            numeric,
        )
        stats_long = stats_mod.finalize_stats(global_wide, stat_columns, numeric)
    else:
        stats_long = None

    bucket_rows = bucket_wide.select(
        BUCKET, F.col("__rows").cast("long").alias("rows_scanned")
    )

    violations: dict[str, DataFrame] = LazyFrames()

    # violation row DataFrames for row-local constraints — stored as
    # factories (LazyFrames) so their plan analysis only runs if a caller
    # actually asks for that constraint's rows
    for c in row_local:
        def _mk(c=c):
            vexpr = _violation_expr(c, fact)
            cols = [F.col(k) for k in key_cols] + [F.lit(c.name).alias("constraint")]
            col_attr = getattr(c, "column", None)
            if col_attr:
                cols.append(F.col(col_attr).cast("string").alias("offending_value"))
            else:
                cols.append(F.lit(None).cast("string").alias("offending_value"))
            return fact.filter(vexpr).select(*cols, F.col(BUCKET))

        violations[c.name] = _mk

    def bucket_counts(name: str, per_bucket: DataFrame) -> DataFrame:
        """Every scanned bucket's row for one cross-row constraint."""
        return bucket_rows.join(per_bucket, BUCKET, "left").select(
            BUCKET,
            F.lit(name).alias("constraint"),
            F.coalesce("violation_count", F.lit(0)).cast("long").alias("violation_count"),
            "rows_scanned",
        )

    # ---- job 2: uniqueness (pruned-column shuffle agg) ----------------------
    for c in uniques:
        keys = list(c.columns)
        nn = F.lit(True)
        for k in keys:
            nn = nn & F.col(k).isNotNull()
        dup = (
            fact.filter(nn)
            .groupBy(*keys)
            .agg(
                F.count(F.lit(1)).alias("key_count"),
                # min, not first: when the Unique columns differ from key_cols
                # a group's rows can carry different bucket_ids and first() is
                # nondeterministic across cluster sizes / resumes
                F.min(BUCKET).alias(BUCKET),
            )
            .filter(F.col("key_count") > 1)
            # tiny output feeding TWO actions (verdicts + violation rows):
            # persist so the second action reuses it instead of re-running
            # the full-table shuffle agg (same pattern as bucket_wide)
            .persist()
        )
        persisted.append(dup)
        violations[c.name] = dup.select(
            *keys,
            F.lit(c.name).alias("constraint"),
            F.col("key_count").cast("string").alias("offending_value"),
            F.col(BUCKET),
        )
        # violation_count = excess rows (rows that would be dropped by dedup)
        parts.append(bucket_counts(c.name, dup.groupBy(BUCKET).agg(
            F.sum(F.col("key_count") - 1).cast("long").alias("violation_count")
        )))

    # ---- job 3: referential integrity (anti-join) ---------------------------
    for c in ris:
        ref = refs[c.ref_name]
        ref_keys = ref.select(
            *[F.col(rc).alias(fc) for fc, rc in zip(c.columns, c.ref_columns)]
        ).dropDuplicates(list(c.columns))
        if broadcast_refs:
            ref_keys = F.broadcast(ref_keys)
        nn = F.lit(True)
        for k in c.columns:
            nn = nn & F.col(k).isNotNull()
        # tiny output feeding two actions — persist like `dup` above so the
        # anti-join's full-table probe runs once, not once per action
        dangling = (
            fact.filter(nn)
            .join(ref_keys, on=list(c.columns), how="left_anti")
            .persist()
        )
        persisted.append(dangling)
        violations[c.name] = dangling.select(
            *key_cols,
            F.lit(c.name).alias("constraint"),
            F.col(c.columns[0]).cast("string").alias("offending_value"),
            F.col(BUCKET),
        )
        parts.append(bucket_counts(c.name, dangling.groupBy(BUCKET).agg(
            F.count(F.lit(1)).cast("long").alias("violation_count")
        )))

    # ---- job 4: payload checks (one Arrow-UDF decode pass) ------------------
    if payload:
        from engine import audio as audio_mod

        ref_names = {c.ref_name for c in payload}
        if len(ref_names) > 1:
            raise ValueError(f"payload checks name several refs: {sorted(ref_names)}")
        inv = audio_mod.audio_invariants(
            df, refs[ref_names.pop()], bucket=bucket
        ).persist()
        persisted.append(inv)
        flags = [(c.flag, c.name) for c in payload]
        if folded:
            inv = inv.withColumn("bytes_ok", ~F.col("bytes_null"))
            flags += [("bytes_ok", c.name) for c in folded]
        # per-flag violation ROWS stay one lazy filter each; the per-bucket
        # counts for ALL flags come from ONE groupBy over the cached pass
        for flag, name in flags:
            violations[name] = inv.filter(~F.col(flag)).select(
                "clip_id",
                F.lit(name).alias("constraint"),
                F.coalesce(F.col("decode_error"), F.col("snr_db").cast("string")).alias(
                    "offending_value"
                ),
                F.col(BUCKET),
            )
        parts.append(_long_verdicts(
            inv.groupBy(BUCKET).agg(
                F.count(F.lit(1)).alias("__rows"),
                *[_count_if(~F.col(flag), f"__v__{i}") for i, (flag, _) in enumerate(flags)],
            ),
            [name for _, name in flags],
        ))

    partition_verdicts = parts[0]
    for p in parts[1:]:
        partition_verdicts = partition_verdicts.unionByName(p)

    # one union of every violation source -> materializing the full violation
    # set is ONE action (vs one job per constraint). Row-local rows come from
    # the fused one-scan union; their per-constraint entries are skipped
    # WITHOUT being touched so their plans are never built
    violations_union = (
        row_local_violations_union(fact, row_local, key_cols) if row_local else None
    )
    fused_names = {c.name for c in row_local}
    sources = [violations_union] if violations_union is not None else []
    sources += [violations[n] for n in list(violations.keys()) if n not in fused_names]
    all_violations = sources[0] if sources else None
    for s in sources[1:]:
        all_violations = all_violations.unionByName(s, allowMissingColumns=True)

    return SuiteResult(
        verdicts=rollup_verdicts(partition_verdicts, suite),
        partition_verdicts=partition_verdicts.withColumn(
            "passed", suite_passed_expr(suite)
        ),
        violations=violations,
        stats=stats_long,
        bucket_stats=bucket_wide,
        violations_union=violations_union,
        all_violations=all_violations,
        persisted=persisted,
    )
