"""validate() + spark-submit CLI entry.

One call = the full constraint-suite pass over a clips table, compiled by
``checks.run_suite`` (the one suite compiler):

  1. fused row-local checks + column stats (one scan)
  2. one co-grouped key pass for uniqueness, referential integrity and (with
     the payload checks) transcript equality on ``clip_id``
  3. with ``check_audio=True``: the audio/transcript payload checks
     (``suite.payload_checks``) as one Arrow-UDF decode pass (engine/audio.py)

returning (verdicts, partition_verdicts, violations, stats) — the reference's
pass/fail + violation-positions contract (anomaly_detection.py:462-465)
generalized. The resumable runner (engine/checkpoint.py) and the streaming
front-end (engine/streaming.py) run the same compiler per shard / micro-batch.

CLI:  spark-submit --py-files engine.zip -m engine.runner <clips_path> <transcripts_path>
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from engine import checks as checks_mod
from engine.suite import ConstraintSuite, audio_clip_suite, with_payload_checks


def validate(
    clips: DataFrame,
    transcripts: DataFrame | None = None,
    suite: ConstraintSuite | None = None,
    n_buckets: int = 32,
    check_audio: bool = False,
    stat_columns: list[str] | None = None,
) -> checks_mod.SuiteResult:
    suite = suite or audio_clip_suite()
    if check_audio:
        if transcripts is None:
            # silently skipping the requested audio pass would report clean
            # verdicts the caller never computed — same guard as the
            # streaming entry point
            raise ValueError("check_audio=True requires a transcripts DataFrame")
        suite = with_payload_checks(suite)
    return checks_mod.run_suite(
        clips,
        suite,
        key_cols=["clip_id"],
        refs={"transcripts": transcripts} if transcripts is not None else {},
        n_buckets=n_buckets,
        stat_columns=stat_columns or [c for c in clips.columns if c != "bytes"],
    )


def main() -> None:  # pragma: no cover - CLI shim
    """spark-submit entry.

    Plain run:      -m engine.runner CLIPS.parquet TRANSCRIPTS.parquet
    Resumable run:  ... --checkpoint DIR [--run-id ID] [--shards N]
                        [--shard-storage DIR]   (re-running with the same
                        run-id skips completed shards — Iceberg-shaped
                        snapshot lineage in DIR/metadata/)
    Drift:          ... --drift-fit BASELINE_DIR   (fit + save baseline)
                    ... --drift-check BASELINE_DIR (KS/PSI vs saved baseline)
    """
    import argparse

    from engine.session import get_spark

    ap = argparse.ArgumentParser(prog="engine.runner")
    ap.add_argument("clips")
    ap.add_argument("transcripts")
    ap.add_argument("--checkpoint", help="checkpoint-table dir (resumable shard run)")
    ap.add_argument("--run-id", default="cli")
    ap.add_argument("--shards", type=int, default=8)
    ap.add_argument("--shard-storage", help="materialize fact partitioned by shard hash")
    ap.add_argument("--stat-columns",
                    help="comma-separated columns to record as per-shard stat lineage")
    ap.add_argument("--drift-fit", help="fit + save a baseline snapshot to this dir")
    ap.add_argument("--drift-check", help="KS/PSI drift check vs a saved baseline")
    args = ap.parse_args()

    spark = SparkSession.getActiveSession() or get_spark("tsad-validate")
    clips = spark.read.parquet(args.clips)
    transcripts = spark.read.parquet(args.transcripts)

    if args.drift_fit or args.drift_check:
        from engine import drift as drift_mod

        num_cols = ["sr_hz", "dur_ms"]
        if args.drift_fit:
            b = drift_mod.fit_baseline(clips, num_cols, ["codec"])
            drift_mod.save_baseline(spark, b, args.drift_fit)
            print(f"baseline saved: {args.drift_fit} (snapshot {b.snapshot_id})")
        if args.drift_check:
            b = drift_mod.load_baseline(spark, args.drift_check)
            rep = drift_mod.drift_check(clips, b)
            print(rep.to_string(index=False))
        return

    if args.checkpoint:
        from engine.checkpoint import CheckpointedRunner

        runner = CheckpointedRunner(spark, args.checkpoint)
        suite = with_payload_checks(audio_clip_suite())
        stat_cols = args.stat_columns.split(",") if args.stat_columns else None
        v = runner.run(
            clips, suite, ["clip_id"], refs={"transcripts": transcripts},
            run_id=args.run_id, n_shards=args.shards,
            shard_storage_path=args.shard_storage, stat_columns=stat_cols,
        )
        v.orderBy("constraint").show(100, truncate=False)
        runner.lineage(args.run_id).show(100, truncate=False)
        if stat_cols:
            runner.stats(args.run_id).orderBy("column_name", "metric").show(
                100, truncate=False
            )
        return

    res = validate(clips, transcripts, check_audio=True)
    res.verdicts.orderBy("constraint").show(100, truncate=False)


if __name__ == "__main__":  # pragma: no cover
    main()
