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
decide whether to count, sample, or persist them. Each persisted source —
the violating keys of a key pass, the dangling rows of an anti-join, the
payload rows — yields all its violation rows in ONE select (one per row
shape: a Unique whose columns are not the run's key columns gets its own),
and ``violations[name]`` of a cross-row or payload constraint is a filter
of that select. So ``all_violations`` reads each persisted source once.

Compiling costs driver round trips, not Spark jobs: ``run_suite`` starts
none, but every Column method is a py4j call plus call-site bookkeeping.
Engine-internal expressions therefore cross to the JVM as SQL text, one
py4j call each (the ``engine/stats.py`` idiom); only the constraints' own
``violation_expr`` Columns are built Column by Column, once per run. On the
200-clip payload suite (``audio_clip_suite`` + payload checks, 8 buckets, no
stat columns) a ``run_suite`` call went from 2,324 py4j call commands and
56 DataFrame operations to 414 and 35 (``tests/test_plans.py`` pins at most
800 calls).
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


def _ident(name: str) -> str:
    """``name`` as a SQL identifier."""
    return "`" + name.replace("`", "``") + "`"


def _text(s: str) -> str:
    """``s`` as a SQL string literal."""
    return "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"


def _not_null(cols) -> str:
    return " AND ".join(f"{_ident(c)} IS NOT NULL" for c in cols)


def bucket_expr(key_cols: list[str], n_buckets: int) -> Column:
    """Deterministic logical-partition id: pmod(xxhash64(keys), n)."""
    keys = ", ".join(_ident(c) for c in key_cols)
    return F.expr(f"CAST(pmod(xxhash64({keys}), {int(n_buckets)}) AS INT)")


def suite_passed_expr(suite: ConstraintSuite | None) -> Column:
    """pass/fail from (constraint, violation_count, rows_scanned) columns:
    NotNull honors its max_null_rate tolerance; everything else (and every
    constraint when ``suite`` is None) needs 0 violations."""
    rates = [
        f"{_text(c.name)}, {float(c.max_null_rate)!r}D"
        for c in (suite.of_type(NotNull) if suite is not None else [])
    ]
    allowed = f"coalesce(map({', '.join(rates)})[constraint], 0.0D)" if rates else "0.0D"
    return F.expr(f"(violation_count / greatest(rows_scanned, 1)) <= {allowed}")


def _sum_parts(parts: DataFrame, keys: list[str], suite: ConstraintSuite | None) -> DataFrame:
    return (
        parts.groupBy(*keys)
        .agg(
            F.expr("CAST(sum(violation_count) AS BIGINT) AS violation_count"),
            F.expr("CAST(sum(rows_scanned) AS BIGINT) AS rows_scanned"),
        )
        .withColumn("passed", suite_passed_expr(suite))
    )


def rollup_verdicts(parts: DataFrame, suite: ConstraintSuite | None) -> DataFrame:
    """Global verdicts from per-part rows — buckets, checkpoint shards or
    streamed micro-batches: sum per constraint, then ``suite_passed_expr``.
    The one roll-up every entry point uses, so a sharded, resumed or streamed
    run's flags provably match an uninterrupted batch run."""
    return _sum_parts(parts, ["constraint"], suite)


def _violation_struct(cols: list[str], name: str, offending: str) -> str:
    """SQL of one violation row: ``cols``, constraint, offending_value,
    bucket_id — the column order of every violation DataFrame."""
    fields = [f"{_text(c)}, {_ident(c)}" for c in cols] + [
        f"'constraint', {_text(name)}",
        f"'offending_value', {offending}",
        f"'bucket_id', {BUCKET}",
    ]
    return f"named_struct({', '.join(fields)})"


def _repeated_rows(df: DataFrame, rows: list[tuple[str, str]]) -> DataFrame:
    """ONE select yielding, per row of ``df`` and ``(struct, n)`` pair of
    ``rows``, ``n`` copies of the struct's row."""
    arrays = ", ".join(f"array_repeat({s}, {n})" for s, n in rows)
    return df.selectExpr(f"inline(concat({arrays}))")


def _counts(df: DataFrame, counts: list[tuple[str, str]], rows_scanned: str = "0L") -> DataFrame:
    """(bucket_id, constraint, violation_count, rows_scanned) rows: per row
    of ``df``, one per ``(constraint, violation count SQL)`` of ``counts``."""
    structs = ", ".join(
        f"named_struct('constraint', {_text(name)}, "
        f"'violation_count', CAST({n} AS BIGINT), 'rows_scanned', {rows_scanned})"
        for name, n in counts
    )
    return df.selectExpr(BUCKET, f"inline(array({structs}))")


def _offending(c) -> str:
    col = getattr(c, "column", None)
    return f"CAST({_ident(col)} AS STRING)" if col else "CAST(NULL AS STRING)"


def row_local_violations_union(
    fact: DataFrame, row_local: list[tuple[str, Column, str]], key_cols: list[str]
) -> DataFrame:
    """ALL row-local violation rows in ONE scan: per row, an array of the
    violation rows of the constraints it violates, nulls dropped, inlined.
    ``row_local`` holds (constraint name, violation Column, offending value
    SQL). At 10^12 rows this replaces k per-constraint scans with one —
    violations are rare, so the inlined output is tiny."""
    structs = [
        F.when(cond, F.expr(_violation_struct(key_cols, name, offending)))
        for name, cond, offending in row_local
    ]
    return fact.select(F.inline(F.filter(F.array(*structs), lambda s: s.isNotNull())))


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
    cols = [_ident(k) for k in keys]
    no_str = "CAST(NULL AS STRING)"
    no_bucket = "CAST(NULL AS INT)"

    def side(df: DataFrame, src: int, bucket: str, t: str, g: str) -> DataFrame:
        return df.filter(_not_null(keys)).selectExpr(
            *cols, f"{bucket} AS {BUCKET}", f"{src} AS __src", f"{t} AS __t", f"{g} AS __g",
        )

    union = side(
        fact, 0,
        BUCKET if BUCKET in fact.columns else no_bucket,
        "transcript" if gold else no_str,
        no_str,
    )
    for i, ref in enumerate(refs):
        union = union.union(side(
            ref, i + 1, no_bucket, no_str,
            "transcript_gold" if gold and i == 0 else no_str,
        ))

    n_fact = "count(CASE WHEN __src = 0 THEN 1 END)"
    aggs = [f"{n_fact} AS n_fact", f"min({BUCKET}) AS {BUCKET}"]
    aggs += [f"bool_or(__src = {i + 1}) AS has_ref_{i}" for i in range(len(refs))]
    if gold:
        n_gold = "count(CASE WHEN __src = 1 THEN 1 END)"
        aggs.append(
            f"coalesce(({n_gold} > 0) AND (count(__t) = {n_fact}) AND (count(__g) = {n_gold})"
            " AND (min(__t) = max(__t)) AND (min(__g) = max(__g)) AND (min(__t) = min(__g)),"
            " false) AS transcript_ok"
        )
    return union.groupBy(*cols).agg(*[F.expr(a) for a in aggs]).filter("n_fact > 0")


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

    bucket = bucket_expr(key_cols, n_buckets)
    fact = df.withColumn(BUCKET, bucket)
    persisted: list[DataFrame] = []
    # each row-local constraint's violation Column, built once: the fused
    # scan, the one-scan violation union and its own rows share it
    row_local = [
        (c.name,
         c.violation_expr_for(fact) if isinstance(c, RowInvariant) else c.violation_expr(),
         _offending(c))
        for c in suite.row_local() if c.name not in folded_names
    ]

    # ---- job 1: fused row-local checks + column stats, one scan -------------
    check_exprs = [
        F.sum(F.when(cond, 1).otherwise(0)).alias(f"__v__{i}")
        for i, (_, cond, _) in enumerate(row_local)
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
        global_wide = stats_mod.merge_bucket_stats(bucket_wide, stat_columns, numeric)
        stats_long = stats_mod.finalize_stats(global_wide, stat_columns, numeric)
    else:
        stats_long = None

    violations: dict[str, DataFrame] = LazyFrames()

    # violation row DataFrames for row-local constraints — stored as
    # factories (LazyFrames) so their plan analysis only runs if a caller
    # actually asks for that constraint's rows; a filter of the fact table,
    # so a parquet scan can push the predicate down
    row_cols = [_ident(k) for k in key_cols]
    for name, cond, offending in row_local:
        violations[name] = lambda name=name, cond=cond, offending=offending: (
            fact.filter(cond).selectExpr(
                *row_cols, f"{_text(name)} AS constraint",
                f"{offending} AS offending_value", BUCKET,
            )
        )

    # every cross-row and payload violation source: one select each, and
    # each of its constraints' rows a lazy filter of it
    sources = []

    def add_source(rows: DataFrame, names: list[str]) -> None:
        sources.append(rows)
        for name in names:
            violations[name] = lambda name=name: rows.filter(f"constraint = {_text(name)}")

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
            refs[name].selectExpr(
                *[f"{_ident(rc)} AS {_ident(fc)}" for fc, rc in zip(keys, rcols)],
                *(["transcript_gold"] if g["gold"] and i == 0 else []),
            )
            for i, (name, rcols) in enumerate(ref_sources)
        ]
        missing_ref = {
            r.name: f"NOT has_ref_{ref_sources.index((r.ref_name, tuple(r.ref_columns)))}"
            for r in g["ris"]
        }
        bad_cond = (["n_fact > 1"] if g["uniques"] else []) + list(missing_ref.values())
        if g["gold"]:
            bad_cond.append("NOT transcript_ok")
        # the violating keys only: tiny, and feeding the verdicts, the
        # violation rows and (broadcast) the payload pass
        bad = key_groups(fact, keys, frames, gold=g["gold"]).filter(" OR ".join(bad_cond))
        bad = bad.persist()
        persisted.append(bad)

        # violation rows by row shape: a Unique's rows carry its columns, an
        # RI's one row per dangling FACT row carries key_cols
        shapes: dict[tuple, list] = {}
        counts = []
        for u in g["uniques"]:
            shapes.setdefault(tuple(keys), []).append((u.name, _violation_struct(
                keys, u.name, "CAST(n_fact AS STRING)"), "CASE WHEN n_fact > 1 THEN 1 ELSE 0 END"))
            # violation_count = excess rows (rows that would be dropped by dedup)
            counts.append((u.name, "CASE WHEN n_fact > 1 THEN n_fact - 1 ELSE 0 END"))
        for r in g["ris"]:
            miss = missing_ref[r.name]
            shapes.setdefault(tuple(key_cols), []).append((r.name, _violation_struct(
                key_cols, r.name, f"CAST({_ident(r.columns[0])} AS STRING)"),
                f"CASE WHEN {miss} THEN CAST(n_fact AS INT) ELSE 0 END"))
            counts.append((r.name, f"CASE WHEN {miss} THEN n_fact ELSE 0 END"))
        for entries in shapes.values():
            add_source(_repeated_rows(bad, [(s, n) for _, s, n in entries]),
                       [name for name, _, _ in entries])
        if counts:
            sparse.append(_counts(bad, counts))
        if g["gold"]:
            mismatched = bad.filter("NOT transcript_ok").select(*GOLD_KEY)

    # ---- job 3: RefIntegrity on a key no Unique covers (anti-join) ----------
    # here and in the payload pass every violation row counts 1, so the
    # sparse counts are a projection of the source's one select
    one_per_row = [BUCKET, "constraint", "1L AS violation_count", "0L AS rows_scanned"]
    for c in anti_ris:
        ref_keys = F.broadcast(refs[c.ref_name].selectExpr(
            *[f"{_ident(rc)} AS {_ident(fc)}" for fc, rc in zip(c.columns, c.ref_columns)]
        ).dropDuplicates(list(c.columns)))
        # tiny output feeding two actions — persist like the key pass above
        # so the anti-join's full-table probe runs once, not once per action
        dangling = (
            fact.filter(_not_null(c.columns))
            .join(ref_keys, on=list(c.columns), how="left_anti")
            .persist()
        )
        persisted.append(dangling)
        rows = dangling.selectExpr(
            *row_cols, f"{_text(c.name)} AS constraint",
            f"CAST({_ident(c.columns[0])} AS STRING) AS offending_value", BUCKET,
        )
        add_source(rows, [c.name])
        sparse.append(rows.selectExpr(*one_per_row))

    # ---- job 4: payload checks (one Arrow-UDF decode pass) ------------------
    failed = [(f"NOT {_ident(c.flag)}", c.name) for c in payload]
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
        failed += [("bytes_null", c.name) for c in folded]
        offending = "coalesce(decode_error, CAST(snr_db AS STRING))"
        rows = _repeated_rows(inv, [
            (_violation_struct(["clip_id"], name, offending),
             f"CASE WHEN {cond} THEN 1 ELSE 0 END")
            for cond, name in failed
        ])
        add_source(rows, [name for _, name in failed])
        sparse.append(rows.selectExpr(*one_per_row))

    # ---- the one roll-up: every scanned bucket gets a row per constraint ----
    zero_names = [c.name for c in uniques + ris] + [name for _, name in failed]
    per_bucket = _counts(
        bucket_wide,
        [(name, f"__v__{i}") for i, (name, _, _) in enumerate(row_local)]
        + [(name, "0") for name in zero_names],
        rows_scanned="CAST(__rows AS BIGINT)",
    )
    for s in sparse:
        per_bucket = per_bucket.union(s)

    # one union of every violation source -> materializing the full violation
    # set is ONE action (vs one job per constraint). Row-local rows come from
    # the fused one-scan union; their per-constraint entries are skipped
    # WITHOUT being touched so their plans are never built
    violations_union = (
        row_local_violations_union(fact, row_local, key_cols) if row_local else None
    )
    if violations_union is not None:
        sources.insert(0, violations_union)
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
        partition_verdicts=_sum_parts(per_bucket, [BUCKET, "constraint"], suite),
        violations=violations,
        stats=stats_long,
        bucket_stats=bucket_wide,
        violations_union=violations_union,
        all_violations=all_violations,
        persisted=persisted,
    )
