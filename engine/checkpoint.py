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
    released before the next shard; an empty shard gets the (0, 0, passed)
    verdict per constraint that run_suite gives any empty input, so it is
    marked done like any other;
  * with ``stat_columns``, each shard also appends its merged column-stat
    partials as lineage rows (``stats.to_lineage``), and ``stats()`` reads
    them back through engine/stats.py's one merge + finalize;
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
from pyspark.sql import types as T

from engine import checks
from engine import stats as stats_mod
from engine.snapshots import SnapshotTable
from engine.suite import ConstraintSuite

CKPT_SCHEMA = (
    "run_id string, shard_id int, status string, constraint string, "
    "violation_count long, rows_scanned long, passed boolean, secs double, "
    "updated_at timestamp"
)

#: per-shard column-stat lineage: each shard's merged PARTIALS as long rows
#: (engine/stats.py ``to_lineage``), not finalized values, so the global
#: roll-up (``stats.lineage_stats``) is the same mergeable merge + finalize
#: as the fused stats scan. An empty shard records zero partials.
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
        ``(column_name, metric, value)``, the metrics and empty-input
        semantics of engine/stats.py's one-scan path — a resumed/sharded
        run's stats provably equal an uninterrupted scan."""
        return stats_mod.lineage_stats(self.shard_stats(run_id))

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
                now = pd.Timestamp.utcnow().tz_localize(None)
                if stat_columns:
                    # stats commit BEFORE the 'done' verdict rows: a crash in
                    # between re-runs the shard, whose deterministic partials
                    # dedupe at read time (stats()/shard_stats()).
                    numeric = stats_mod.numeric_columns(shard, stat_columns)
                    lineage = stats_mod.to_lineage(res.bucket_stats, stat_columns, numeric)
                    self.stats_table.append(
                        lineage.withColumns({
                            "run_id": F.lit(run_id), "shard_id": F.lit(s),
                            "updated_at": F.lit(now),
                        }).to(T.StructType.fromDDL(STATS_SCHEMA)).coalesce(1),
                        properties={"run_id": run_id, "shard_id": s},
                    )
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
