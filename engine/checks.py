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
  job 2 (ONE co-grouped key pass per key tuple, ``key_groups``): the pruned
         fact keys and every ref's keys unioned and grouped once — Unique,
         the RefIntegrity checks on the same columns and the payload's
         transcript equality all read their verdicts and violation rows off
         the persisted violating keys.
  job 3 (only if a RefIntegrity's columns match no Unique): LEFT ANTI JOIN
         against the broadcast distinct keys of the ref table.
  job 4 (only if PayloadCheck): ONE Arrow-UDF decode pass over the binary
         column (engine/audio.py), which also absorbs NotNull(bytes); the
         transcript-mismatch keys of job 2 reach it as a broadcast.

Every cross-row and payload constraint reports sparse per-bucket rows (only
the buckets holding violations); the fused scan gives every scanned bucket a
zero row for each of them, and one groupBy folds the two into
``partition_verdicts``. An empty input scans no bucket, yet still gets a
(0, 0, passed) verdict per constraint. Jobs per ``verdicts`` collect of a
``validate()`` pass (local[4], AQE on): 6 for the metadata suite and 9 with
the payload checks, down from 14 and 20 when each key constraint ran its own
shuffle or join and each per-bucket count its own join.

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
        """Unpersist the per-bucket partials, violating keys, anti-join
        dangling rows and payload-pass results this run cached. The result frames stay
        usable; they recompute from source."""
        for df in self.persisted:
            df.unpersist()
        self.persisted.clear()

    def __enter__(self) -> "SuiteResult":
        return self

    def __exit__(self, *exc) -> None:
        self.close()


def _count_if(cond: Column, alias: str) -> Column:
    return F.sum(F.when(cond, 1).otherwise(0)).alias(alias)


def _all_not_null(cols) -> Column:
    cond = F.lit(True)
    for c in cols:
        cond = cond & F.col(c).isNotNull()
    return cond


def key_groups(
    fact: DataFrame,
    keys: list[str],
    refs: list[DataFrame] = (),
    gold: bool = False,
) -> DataFrame:
    """ONE co-grouped aggregate over the key tuple ``keys``: the fact's keys
    and every ref's keys, rows with a null key component dropped on both
    sides, tagged, unioned and grouped once. One row per key with at least
    one fact row (keys only in a ref are dropped):

      n_fact         fact rows with the key (Unique excess = n_fact - 1)
      bucket_id      min of the fact rows' ``bucket_id`` (null without one;
                     min, not first: when ``keys`` do not determine the
                     bucket, first() would vary across cluster sizes)
      has_ref_{i}    whether ``refs[i]`` holds the key (RefIntegrity)
      transcript_ok  only with ``gold``: ``refs[0]`` holds the key, no
                     fact ``transcript`` or gold ``transcript_gold`` of the
                     key is null, and they are all one value — the pairwise
                     ``min(transcript = transcript_gold)`` of a fact x gold
                     join, without the join

    ``refs[i]`` carry ``keys`` under the fact's column names, with ``gold``
    ``refs[0]`` also ``transcript_gold``; ``fact`` carries ``keys`` (and
    ``transcript`` with ``gold``)."""
    keys = list(keys)
    no_str = F.lit(None).cast("string")
    no_bucket = F.lit(None).cast("int")

    def side(df: DataFrame, src: int, bucket: Column, t: Column, g: Column) -> DataFrame:
        return df.filter(_all_not_null(keys)).select(
            *keys, bucket.alias(BUCKET), F.lit(src).alias("__src"),
            t.alias("__t"), g.alias("__g"),
        )

    union = side(
        fact, 0,
        F.col(BUCKET) if BUCKET in fact.columns else no_bucket,
        F.col("transcript") if gold else no_str,
        no_str,
    )
    for i, ref in enumerate(refs):
        union = union.union(side(
            ref, i + 1, no_bucket, no_str,
            F.col("transcript_gold") if gold and i == 0 else no_str,
        ))

    src = F.col("__src")
    n_fact = F.count(F.when(src == 0, 1))
    aggs = [n_fact.alias("n_fact"), F.min(BUCKET).alias(BUCKET)]
    aggs += [F.bool_or(src == i + 1).alias(f"has_ref_{i}") for i in range(len(refs))]
    if gold:
        t, g = F.col("__t"), F.col("__g")
        n_gold = F.count(F.when(src == 1, 1))
        ok = (
            (n_gold > 0)
            & (F.count(t) == n_fact) & (F.count(g) == n_gold)
            & (F.min(t) == F.max(t)) & (F.min(g) == F.max(g))
            & (F.min(t) == F.min(g))
        )
        aggs.append(F.coalesce(ok, F.lit(False)).alias("transcript_ok"))
    return union.groupBy(*keys).agg(*aggs).filter(F.col("n_fact") > 0)


def _sparse_counts(df: DataFrame, counts: list[Column]) -> DataFrame:
    """(bucket_id, constraint, violation_count, rows_scanned=0) rows from
    ``(constraint, violation_count)`` structs over violating rows; the
    bucket's rows_scanned comes from its zero row (see ``run_suite``)."""
    return df.select(BUCKET, F.explode(F.array(*counts)).alias("v")).select(
        BUCKET, "v.constraint",
        F.col("v.violation_count").cast("long").alias("violation_count"),
        F.lit(0).cast("long").alias("rows_scanned"),
    )


def _count_struct(name: str, n: Column) -> Column:
    return F.struct(F.lit(name).alias("constraint"), n.alias("violation_count"))


#: the key of the payload pass's transcript equality check
GOLD_KEY = ("clip_id",)


def run_suite(
    df: DataFrame,
    suite: ConstraintSuite,
    key_cols: list[str],
    refs: dict[str, DataFrame] | None = None,
    n_buckets: int = 32,
    stat_columns: list[str] | None = None,
) -> SuiteResult:
    refs = refs or {}
    payload = suite.of_type(PayloadCheck)
    uniques = suite.of_type(Unique)
    ris = suite.of_type(RefIntegrity)
    missing = sorted({c.ref_name for c in ris + payload} - set(refs))
    if missing:
        raise ValueError(f"suite names refs that were not supplied: {missing}")
    # the payload pass reads the binary column anyway: NotNull(bytes) folds
    # into it so the fused scan never has to read `bytes`
    folded = [c for c in suite.of_type(NotNull) if c.column == "bytes"] if payload else []
    folded_names = {c.name for c in folded}
    row_local = [c for c in suite.row_local() if c.name not in folded_names]

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
    # three consumers (partition verdicts, global stats, lineage) — without
    # this the full fact-table scan re-runs once per consumer
    bucket_wide = fact.groupBy(BUCKET).agg(*stat_exprs, *check_exprs).persist()
    persisted.append(bucket_wide)

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

    # cross-row and payload constraints report sparse per-bucket rows (only
    # buckets holding violations, rows_scanned 0); every scanned bucket's row
    # for them is a zero row of the fused scan, folded in by the roll-up
    sparse: list[DataFrame] = []

    # ---- job 2: ONE co-grouped key pass per key tuple -----------------------
    # Unique, the RefIntegrity checks on the same columns and the payload's
    # transcript equality share one union + groupBy(key); only the violating
    # keys are persisted. An RI co-groups only when its columns cover
    # key_cols: then every fact row of a key has one bucket and the violation
    # rows' key_cols come from the key itself.
    groups: dict[tuple, dict] = {}

    def group(keys) -> dict:
        return groups.setdefault(tuple(keys), {"uniques": [], "ris": [], "gold": False})

    for u in uniques:
        group(u.columns)["uniques"].append(u)
    anti_ris = []
    for r in ris:
        if tuple(r.columns) in groups and set(key_cols) <= set(r.columns):
            group(r.columns)["ris"].append(r)
        else:
            anti_ris.append(r)
    gold_ref = next((c.ref_name for c in payload if c.flag == "transcript_ok"), None)
    if gold_ref is not None:
        group(GOLD_KEY)["gold"] = True

    mismatched = None  # keys failing transcript equality
    for keys, g in groups.items():
        keys = list(keys)
        # distinct ref key sources; the gold transcripts (if any) first, so an
        # RI on the same table and columns reuses them
        ref_sources = [(gold_ref, GOLD_KEY)] if g["gold"] else []
        ref_sources += [
            s for s in dict.fromkeys((r.ref_name, tuple(r.ref_columns)) for r in g["ris"])
            if s not in ref_sources
        ]
        frames = [
            refs[name].select(
                *[F.col(rc).alias(fc) for fc, rc in zip(keys, rcols)],
                *(["transcript_gold"] if g["gold"] and i == 0 else []),
            )
            for i, (name, rcols) in enumerate(ref_sources)
        ]
        has_ref = {
            r.name: F.col(f"has_ref_{ref_sources.index((r.ref_name, tuple(r.ref_columns)))}")
            for r in g["ris"]
        }
        n_fact = F.col("n_fact")
        bad_cond = F.lit(False)
        if g["uniques"]:
            bad_cond = bad_cond | (n_fact > 1)
        for ok in has_ref.values():
            bad_cond = bad_cond | ~ok
        if g["gold"]:
            bad_cond = bad_cond | ~F.col("transcript_ok")
        # the violating keys only: tiny, and feeding the verdicts, the
        # violation rows and (broadcast) the payload pass
        bad = key_groups(
            fact, keys, frames, gold=g["gold"]
        ).filter(bad_cond).persist()
        persisted.append(bad)

        counts = []
        for u in g["uniques"]:
            violations[u.name] = bad.filter(n_fact > 1).select(
                *keys,
                F.lit(u.name).alias("constraint"),
                n_fact.cast("string").alias("offending_value"),
                F.col(BUCKET),
            )
            # violation_count = excess rows (rows that would be dropped by dedup)
            counts.append(_count_struct(u.name, F.when(n_fact > 1, n_fact - 1).otherwise(0)))
        for r in g["ris"]:
            ok = has_ref[r.name]
            # one violation row per dangling FACT row
            violations[r.name] = bad.filter(~ok).select(
                *key_cols,
                F.lit(r.name).alias("constraint"),
                F.col(r.columns[0]).cast("string").alias("offending_value"),
                F.col(BUCKET),
                F.explode(F.array_repeat(F.lit(0), n_fact.cast("int"))).alias("__row"),
            ).drop("__row")
            counts.append(_count_struct(r.name, F.when(~ok, n_fact).otherwise(0)))
        if counts:
            sparse.append(_sparse_counts(bad, counts))
        if g["gold"]:
            mismatched = bad.filter(~F.col("transcript_ok")).select(*GOLD_KEY)

    # ---- job 3: RefIntegrity on a key no Unique covers (anti-join) ----------
    for c in anti_ris:
        ref_keys = F.broadcast(refs[c.ref_name].select(
            *[F.col(rc).alias(fc) for fc, rc in zip(c.columns, c.ref_columns)]
        ).dropDuplicates(list(c.columns)))
        # tiny output feeding two actions — persist like the key pass above
        # so the anti-join's full-table probe runs once, not once per action
        dangling = (
            fact.filter(_all_not_null(c.columns))
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
        sparse.append(_sparse_counts(dangling, [_count_struct(c.name, F.lit(1))]))

    # ---- job 4: payload checks (one Arrow-UDF decode pass) ------------------
    flags = [(c.flag, c.name) for c in payload]
    if payload:
        from engine import audio as audio_mod

        if len({c.ref_name for c in payload}) > 1:
            raise ValueError(
                f"payload checks name several refs: {sorted({c.ref_name for c in payload})}"
            )
        inv = audio_mod.payload_pass(df, bucket)
        if mismatched is not None:
            inv = audio_mod.with_transcript_ok(inv, mismatched)
        inv = inv.persist()
        persisted.append(inv)
        if folded:
            inv = inv.withColumn("bytes_ok", ~F.col("bytes_null"))
            flags += [("bytes_ok", c.name) for c in folded]
        for flag, name in flags:
            violations[name] = inv.filter(~F.col(flag)).select(
                "clip_id",
                F.lit(name).alias("constraint"),
                F.coalesce(F.col("decode_error"), F.col("snr_db").cast("string")).alias(
                    "offending_value"
                ),
                F.col(BUCKET),
            )
        any_bad = F.lit(False)
        for flag, _ in flags:
            any_bad = any_bad | ~F.col(flag)
        sparse.append(_sparse_counts(inv.filter(any_bad), [
            _count_struct(name, F.when(~F.col(flag), 1).otherwise(0)) for flag, name in flags
        ]))

    # ---- the one roll-up: every scanned bucket gets a row per constraint ----
    zero_names = [c.name for c in uniques + ris] + [name for _, name in flags]
    per_bucket = bucket_wide.select(
        BUCKET,
        F.col("__rows").cast("long").alias("rows_scanned"),
        F.explode(F.array(
            *[_count_struct(c.name, F.col(f"__v__{i}").cast("long"))
              for i, c in enumerate(row_local)],
            *[_count_struct(n, F.lit(0).cast("long")) for n in zero_names],
        )).alias("v"),
    ).select(BUCKET, "v.constraint", "v.violation_count", "rows_scanned")
    for s in sparse:
        per_bucket = per_bucket.unionByName(s)
    partition_verdicts = per_bucket.groupBy(BUCKET, "constraint").agg(
        F.sum("violation_count").cast("long").alias("violation_count"),
        F.sum("rows_scanned").cast("long").alias("rows_scanned"),
    )

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

    # every constraint has a verdict, on an empty input too: the roll-up adds
    # a (0, 0) row each, a literal relation in its stage (no scan, no job);
    # partition_verdicts gets none, as an empty input scans no bucket
    names = {f"c{i}": c.name for i, c in enumerate(suite.constraints)}
    verdict_parts = per_bucket.unionByName(df.sparkSession.sql(
        "VALUES " + ", ".join(f"(:{k}, 0L, 0L)" for k in names)
        + " AS t(constraint, violation_count, rows_scanned)", args=names,
    ), allowMissingColumns=True) if names else per_bucket

    return SuiteResult(
        # sums are associative: the global roll-up reads the unaggregated
        # per-bucket rows directly, one shuffle instead of two
        verdicts=rollup_verdicts(verdict_parts, suite),
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
