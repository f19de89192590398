"""Partition-keyed checkpointing: resumable validation with lineage + metrics.

The reference's restart story is per-task CSV persistence (each hyperparameter
config writes its own results, ``rnn_old.py:266-269``) plus a registry with
append-on-create semantics (``models/utils.py:200-210``) and
latest-by-timestamp resolution (``utils.py:226-230``). Generalized here:

  * work is split into ``n_shards`` deterministic key-hash shards
    (pmod(xxhash64(key), n) — same rule as the verdict buckets, so shard
    verdicts sum exactly to the global verdicts: duplicates of a key land in
    one shard, dangling rows count where they live);
  * each completed shard appends (run_id, shard_id, constraint, counts,
    secs, updated_at) rows to a checkpoint table — idempotent append keyed by
    (run_id, shard_id);
  * each shard is one ``checks.run_suite`` call — the same suite compiler as
    a batch ``validate``, payload checks included — whose cached frames are
    released before the next shard;
  * resume = read done shard ids for the run_id, skip them, process the rest;
  * final verdicts = ``checks.rollup_verdicts`` over shard rows — equal to an
    uninterrupted run.

The checkpoint table is an Iceberg-SHAPED snapshot table (engine/snapshots.py:
per-append manifests + time travel — this image has no Iceberg jars, the
SnapshotTable docstring records the real-deployment swap). Each completed
shard commits one snapshot, so the run's full lineage history is replayable:
``verdicts_at(run_id, snapshot_id)`` answers "what did the run know after
shard k". At 10^12 rows the fact table is partitioned/bucketed by the same
hash (``shard_storage_path``) so a shard scan prunes to its own files instead
of re-reading the table.
"""

from __future__ import annotations

import os
import time
import uuid

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from engine import checks
from engine.snapshots import SnapshotTable
from engine.suite import ConstraintSuite

CKPT_SCHEMA = (
    "run_id string, shard_id int, status string, constraint string, "
    "violation_count long, rows_scanned long, passed boolean, secs double, "
    "updated_at timestamp"
)

#: per-shard column-stat PARTIALS (north rule: per-partition lineage + stat
#: metrics). Partials, not finalized values, so the global roll-up is exact
#: and mergeable: rows/nulls/sum/sumsq add, min/max fold, ndv merges as an
#: HLL sketch binary (hll_union_agg) — the same mergeability contract as the
#: fused stats scan (engine/stats.py).
STATS_SCHEMA = (
    "run_id string, shard_id int, column_name string, metric string, "
    "value double, hll binary, updated_at timestamp"
)


class CheckpointedRunner:
    def __init__(self, spark: SparkSession, checkpoint_dir: str):
        self.spark = spark
        self.dir = checkpoint_dir
        self.table = SnapshotTable(spark, checkpoint_dir)
        self.stats_table = SnapshotTable(spark, os.path.join(checkpoint_dir, "stats"))

    # -- checkpoint table I/O --------------------------------------------------
    def _read(self, as_of: int | None = None) -> DataFrame | None:
        return self.table.read(as_of=as_of)

    def done_shards(self, run_id: str) -> set[int]:
        df = self._read()
        if df is None:
            return set()
        rows = (
            df.filter((F.col("run_id") == run_id) & (F.col("status") == "done"))
            .select("shard_id").distinct().collect()
        )
        return {r["shard_id"] for r in rows}

    def _append(self, rows: list[dict]) -> int:
        pdf = pd.DataFrame(rows)
        df = self.spark.createDataFrame(pdf, schema=CKPT_SCHEMA).coalesce(1)
        return self.table.append(
            df,
            properties={"run_id": rows[0]["run_id"], "shard_id": rows[0]["shard_id"]},
        )

    # -- per-shard column-stat lineage ----------------------------------------
    def _append_shard_stats(self, run_id, shard_id, res, shard_df, stat_columns, now):
        from engine import stats as stats_mod

        numeric = set(stats_mod.numeric_columns(shard_df, stat_columns))
        collected = res.bucket_stats.drop(checks.BUCKET).collect()
        # an EMPTY shard (hash bucket with no rows) has no partial row at
        # all; record zero partials so the lineage stays complete and the
        # global roll-up is unaffected (null hll rows are skipped — the
        # union over the other shards is the correct sketch)
        wide = collected[0].asDict() if collected else {}
        rows = []

        def add(col, metric, value=None, hll=None):
            rows.append(dict(run_id=run_id, shard_id=shard_id, column_name=col,
                             metric=metric, value=value, hll=hll, updated_at=now))

        for c in stat_columns:
            add(c, "rows", float(wide.get("__rows") or 0))
            add(c, "nulls", float(wide.get(f"{c}__nulls") or 0))
            sk = wide.get(f"{c}__hll")
            if sk is not None:
                add(c, "hll", None, bytes(sk))
            if c in numeric:
                for m in ("min", "max", "sum", "sumsq"):
                    v = wide.get(f"{c}__{m}")
                    add(c, m, None if v is None else float(v))
        df = self.spark.createDataFrame(pd.DataFrame(rows), schema=STATS_SCHEMA)
        self.stats_table.append(
            df.coalesce(1), properties={"run_id": run_id, "shard_id": shard_id}
        )

    def shard_stats(self, run_id: str) -> DataFrame:
        """Raw per-shard stat PARTIALS for ``run_id`` (lineage granularity),
        deduped per (shard, column, metric) — partials are deterministic, so
        rows re-appended by a crash-replayed shard are identical."""
        df = self.stats_table.read()
        return (
            df.filter(F.col("run_id") == run_id)
            .dropDuplicates(["shard_id", "column_name", "metric"])
        )

    def stats(self, run_id: str) -> DataFrame:
        """Global column stats merged EXACTLY from the per-shard partials:
        ``(column_name, metric, value)`` with the same metrics as
        engine/stats.py's one-scan path (count, null_count, null_rate,
        approx_ndv via merged HLL sketches, min, max, mean, stddev) — a
        resumed/sharded run's stats provably equal an uninterrupted scan."""
        p = self.shard_stats(run_id)
        val = lambda m: F.when(F.col("metric") == m, F.col("value"))
        g = p.groupBy("column_name").agg(
            F.sum(val("rows")).alias("__rows"),
            F.sum(val("nulls")).alias("__nulls"),
            F.min(val("min")).alias("__min"),
            F.max(val("max")).alias("__max"),
            F.sum(val("sum")).alias("__sum"),
            F.sum(val("sumsq")).alias("__sumsq"),
            F.hll_union_agg(
                F.when(F.col("metric") == "hll", F.col("hll"))
            ).alias("__hll"),
            F.max((F.col("metric") == "min").cast("int")).alias("__is_num"),
        )

        def metric(m, v):
            return F.struct(F.lit(m).alias("metric"), v.cast("double").alias("value"))

        rows, nulls = F.col("__rows"), F.col("__nulls")
        n = rows - nulls
        mean = F.col("__sum") / n
        var = F.greatest(F.col("__sumsq") / n - mean * mean, F.lit(0.0))
        base = F.array(
            metric("count", rows),
            metric("null_count", nulls),
            metric("null_rate", nulls / rows),
            metric("approx_ndv", F.hll_sketch_estimate(F.col("__hll"))),
        )
        num = F.array(
            metric("min", F.col("__min")),
            metric("max", F.col("__max")),
            metric("mean", mean),
            metric("stddev", F.sqrt(var)),
        )
        structs = F.when(F.col("__is_num") == 1, F.concat(base, num)).otherwise(base)
        return (
            g.select("column_name", F.explode(structs).alias("s"))
            .select("column_name", "s.metric", "s.value")
        )

    # -- resumable run -----------------------------------------------------------
    def run(
        self,
        fact: DataFrame,
        suite: ConstraintSuite,
        key_cols: list[str],
        refs: dict[str, DataFrame] | None = None,
        run_id: str | None = None,
        n_shards: int = 8,
        fail_after: int | None = None,
        shard_storage_path: str | None = None,
        stat_columns: list[str] | None = None,
    ) -> DataFrame:
        """Validate ``fact`` shard by shard, checkpointing each; returns global
        verdicts identical to an uninterrupted run. ``fail_after`` (tests
        only) raises after that many shards to simulate a crash.

        Without ``shard_storage_path`` each shard filter re-scans the whole
        fact table (n_shards full scans). With it, the fact table is
        materialized ONCE partitioned by the shard hash; every shard scan —
        including after a resume — then partition-prunes to ~1/n_shards of
        the files (PartitionFilters on __shard, asserted in
        tests/test_checkpoint.py). At 10^12 rows this is the difference
        between n_shards table scans and one."""
        run_id = run_id or uuid.uuid4().hex[:12]
        done = self.done_shards(run_id)
        shard_col = checks.bucket_expr(key_cols, n_shards)
        sharded = fact.withColumn("__shard", shard_col)

        if shard_storage_path is not None:
            # completeness is gated on the committer's _SUCCESS marker, not
            # mere directory existence: a crash mid-write leaves a partial
            # partitioned table that a resumed run would otherwise silently
            # read (ADVICE r2). No marker -> rewrite from scratch.
            marker = os.path.join(shard_storage_path, "_SUCCESS")
            if not os.path.exists(marker):
                sharded.write.mode("overwrite").partitionBy("__shard").parquet(
                    shard_storage_path
                )
                if not os.path.exists(marker):  # committer disabled markers
                    with open(marker, "w"):
                        pass
            sharded = self.spark.read.parquet(shard_storage_path)

        processed = 0
        for s in range(n_shards):
            if s in done:
                continue
            t0 = time.time()
            shard = sharded.filter(F.col("__shard") == s).drop("__shard")
            with checks.run_suite(
                shard, suite, key_cols=key_cols, refs=refs or {},
                n_buckets=1, stat_columns=stat_columns or [],
            ) as res:
                verdicts = res.verdicts.collect()
                if not verdicts:
                    # an EMPTY shard produces no verdict rows at all; record
                    # explicit zero-rows for every constraint so the shard is
                    # marked done (otherwise a resume would re-run it forever)
                    verdicts = [
                        dict(constraint=c.name, violation_count=0, rows_scanned=0,
                             passed=True)
                        for c in suite.constraints
                    ]
                now = pd.Timestamp.utcnow().tz_localize(None)
                if stat_columns:
                    # stats commit BEFORE the 'done' verdict rows: a crash in
                    # between re-runs the shard, whose deterministic partials
                    # dedupe at read time (stats()/shard_stats()).
                    self._append_shard_stats(run_id, s, res, shard, stat_columns, now)
            secs = time.time() - t0
            self._append(
                [
                    dict(run_id=run_id, shard_id=s, status="done",
                         constraint=r["constraint"],
                         violation_count=r["violation_count"],
                         rows_scanned=r["rows_scanned"], passed=r["passed"],
                         secs=secs, updated_at=now)
                    for r in verdicts
                ]
            )
            processed += 1
            if fail_after is not None and processed >= fail_after:
                raise RuntimeError(f"simulated crash after {processed} shards")

        return self.verdicts(run_id, suite=suite)

    def verdicts(self, run_id: str, suite: ConstraintSuite | None = None) -> DataFrame:
        """Global verdicts summed from shard rows. Pass the suite so NotNull
        max_null_rate tolerances apply exactly as in an uninterrupted
        checks.run_suite run; without it every constraint requires 0."""
        return self._rollup(self._read(), run_id, suite)

    def verdicts_at(
        self, run_id: str, snapshot_id: int, suite: ConstraintSuite | None = None
    ) -> DataFrame:
        """Time travel: ``verdicts`` as of checkpoint snapshot
        ``snapshot_id`` — what the run knew after that shard committed."""
        return self._rollup(self.table.time_travel(snapshot_id), run_id, suite)

    @staticmethod
    def _rollup(df: DataFrame, run_id: str, suite: ConstraintSuite | None) -> DataFrame:
        done = df.filter((F.col("run_id") == run_id) & (F.col("status") == "done"))
        return checks.rollup_verdicts(done, suite)

    def lineage(self, run_id: str) -> DataFrame:
        """Per-shard lineage: status, metrics, timing."""
        df = self._read()
        return (
            df.filter(F.col("run_id") == run_id)
            .groupBy("shard_id")
            .agg(
                F.max("status").alias("status"),
                F.sum("violation_count").alias("violations"),
                F.max("rows_scanned").alias("rows_scanned"),
                F.max("secs").alias("secs"),
                F.max("updated_at").alias("updated_at"),
            )
            .orderBy("shard_id")
        )
