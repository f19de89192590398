"""Streaming front-end: micro-batch validation produces the same cumulative
verdicts as the batch engine on the same rows."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from engine import checks, streaming, synth
from engine.suite import audio_clip_suite

N = 2000


@pytest.mark.slow
def test_stream_validate_matches_batch(spark, tmp_path):
    clips = synth.gen_clips(spark, N, partitions=4).cache()
    clips.count()
    src_dir = str(tmp_path / "landing")
    # write in two chunks to get multiple micro-batches
    a, b = clips.randomSplit([0.5, 0.5], seed=1)
    a.write.mode("overwrite").parquet(src_dir)

    suite = audio_clip_suite()
    # row-local subset only (streaming front-end scope)
    stream = (
        spark.readStream.schema(clips.schema)
        .option("maxFilesPerTrigger", "2")
        .parquet(src_dir)
    )
    out = str(tmp_path / "verdicts")
    ckpt = str(tmp_path / "ckpt")
    q = streaming.stream_validate(stream, suite, ["clip_id"], out, ckpt, n_buckets=8)
    q.processAllAvailable()
    b.write.mode("append").parquet(src_dir)
    q.processAllAvailable()
    q.stop()

    got = {
        r["constraint"]: (r["violation_count"], r["rows_scanned"])
        for r in streaming.cumulative_verdicts(spark, out).collect()
    }

    from engine.suite import ConstraintSuite

    rl_suite = ConstraintSuite(list(suite.row_local()))
    batch = checks.run_suite(clips, rl_suite, ["clip_id"], refs={}, n_buckets=8,
                             stat_columns=[])
    # compare only row-local constraints (Unique/RI need refs / global state)
    row_local_names = {c.name for c in suite.row_local()}
    exp = {
        r["constraint"]: (r["violation_count"], r["rows_scanned"])
        for r in batch.verdicts.collect()
        if r["constraint"] in row_local_names
    }
    assert got == exp


def test_cumulative_verdicts_idempotent_under_replay(spark, tmp_path):
    """A retried micro-batch must not double-count: re-writing the same
    batch_id's rows (partition overwrite) and summing with the dedup guard
    leaves cumulative verdicts unchanged."""
    rows = [
        (0, b, "c1", 5, 100) for b in range(8)
    ] + [(1, b, "c1", 3, 100) for b in range(8)]
    df = spark.createDataFrame(
        rows,
        "batch_id long, bucket_id int, constraint string, "
        "violation_count long, rows_scanned long",
    )
    out = str(tmp_path / "sink")
    df.write.mode("overwrite").option("partitionOverwriteMode", "dynamic").partitionBy(
        "batch_id"
    ).parquet(out)
    before = {
        r["constraint"]: (r["violation_count"], r["rows_scanned"])
        for r in streaming.cumulative_verdicts(spark, out).collect()
    }
    # replay batch 1 (simulated retry): dynamic overwrite of its partition
    df.filter("batch_id = 1").write.mode("overwrite").option(
        "partitionOverwriteMode", "dynamic"
    ).partitionBy("batch_id").parquet(out)
    after = {
        r["constraint"]: (r["violation_count"], r["rows_scanned"])
        for r in streaming.cumulative_verdicts(spark, out).collect()
    }
    assert after == before
    # and duplicate rows inside a partition (a sink without overwrite
    # semantics) are absorbed by the reader's dedup guard
    df.filter("batch_id = 1").drop("batch_id").write.mode("append").parquet(
        f"{out}/batch_id=1"
    )
    again = {
        r["constraint"]: (r["violation_count"], r["rows_scanned"])
        for r in streaming.cumulative_verdicts(spark, out).collect()
    }
    assert again == before


@pytest.mark.slow
def test_stateful_ewma_stream_carries_state(spark, tmp_path):
    """applyInPandasWithState: EWMA state carried across micro-batches ==
    the batch operator run on the concatenated data (U4 carried-state
    contract, streaming edition)."""
    import numpy as np

    from engine import synth
    from engine.scoring import ewma_residual

    series = synth.gen_series(spark, n_series=4, n_points=400).cache()
    series.count()
    src = str(tmp_path / "landing")
    # two time-ordered chunks -> two separate micro-batches
    first = series.filter("idx < 200")
    second = series.filter("idx >= 200")
    first.coalesce(1).write.mode("overwrite").parquet(src)

    stream = (
        spark.readStream.schema(series.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    out = str(tmp_path / "ewma_out")
    q = (
        streaming.stateful_ewma_stream(stream, "value", "idx", "series_id", alpha=0.1)
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", str(tmp_path / "ewma_ckpt"))
        .outputMode("append")
        .start()
    )
    q.processAllAvailable()
    second.coalesce(1).write.mode("append").parquet(src)
    q.processAllAvailable()
    q.stop()

    got = {
        (r["series_id"], r["idx"]): (r["ewma"], r["residual"])
        for r in spark.read.parquet(out).collect()
    }
    exp = {
        (r["series_id"], r["idx"]): (r["ewma"], r["residual"])
        for r in ewma_residual(series, "value", ["idx"], "series_id", alpha=0.1).collect()
    }
    assert set(got) == set(exp)
    # state carried across the batch boundary: idx>=200 rows must match the
    # batch EWMA (which saw the full history), not a restarted one
    for k in exp:
        ge, gr = got[k]
        ee, er = exp[k]
        if ee is None:
            assert ge is None or np.isnan(ge)
        else:
            assert abs(ge - ee) < 1e-9 * max(1.0, abs(ee)), (k, ge, ee)
            assert abs(gr - er) < 1e-9 * max(1.0, abs(er)), (k, gr, er)


def test_stateful_ewma_skewed_series_parity(spark, tmp_path):
    """Straggler-proofing evidence (VERDICT r2 #7): one series holding 50% of
    all rows — the exact shape where ewma_residual's parallelism-by-series
    degrades to one straggler task — must produce IDENTICAL results from the
    O(1)-state chunk-and-carry closed form (stateful_ewma_stream), whose
    per-task memory is O(chunk) regardless of series size. Crossover guidance
    lives in scoring.ewma_residual's docstring."""
    import numpy as np
    import pandas as pd

    from engine.scoring import ewma_residual

    rng = np.random.default_rng(11)
    rows = []
    # hot series: 4000 rows = 50%; 8 cold series: 500 rows each
    for i in range(4000):
        rows.append(("hot", i, float(rng.standard_normal())))
    for s in range(8):
        for i in range(500):
            rows.append((f"cold{s}", i, float(rng.standard_normal())))
    pdf = pd.DataFrame(rows, columns=["series_id", "idx", "value"])
    series = spark.createDataFrame(pdf).repartition(8).cache()
    series.count()

    src = str(tmp_path / "skew_landing")
    series.filter("idx < 250").coalesce(1).write.mode("overwrite").parquet(src)
    stream = (
        spark.readStream.schema(series.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    out = str(tmp_path / "skew_out")
    q = (
        streaming.stateful_ewma_stream(stream, "value", "idx", "series_id", alpha=0.3)
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", str(tmp_path / "skew_ckpt"))
        .outputMode("append")
        .start()
    )
    q.processAllAvailable()
    series.filter("idx >= 250").coalesce(1).write.mode("append").parquet(src)
    q.processAllAvailable()
    q.stop()

    got = {
        (r["series_id"], r["idx"]): (r["ewma"], r["residual"])
        for r in spark.read.parquet(out).collect()
    }
    exp = {
        (r["series_id"], r["idx"]): (r["ewma"], r["residual"])
        for r in ewma_residual(series, "value", ["idx"], "series_id", alpha=0.3).collect()
    }
    assert set(got) == set(exp) and len(got) == 8000
    for k in exp:
        ge, _ = got[k]
        ee, _ = exp[k]
        if ee is None:
            assert ge is None or np.isnan(ge)
        else:
            assert abs(ge - ee) < 1e-9 * max(1.0, abs(ee)), (k, ge, ee)


@pytest.mark.slow
def test_windowed_drift_watermark_drops_late_rows(spark, tmp_path):
    """Event-time windows + watermark end-to-end: windows finalize (append
    mode) once the watermark passes, and a row arriving later than the
    watermark allows is DROPPED — the finalized window's count is unchanged."""
    src = str(tmp_path / "wm_landing")
    out = str(tmp_path / "wm_out")

    def write_batch(rows, mode):
        df = spark.createDataFrame(rows, "ts string, value double").select(
            F.col("ts").cast("timestamp").alias("ts"), "value"
        )
        df.coalesce(1).write.mode(mode).parquet(src)

    # batch 1: two rows in window 10:00-10:05, one in 10:05-10:10
    write_batch(
        [("2024-01-01 10:00:30", 1.0), ("2024-01-01 10:02:00", 3.0),
         ("2024-01-01 10:07:00", 5.0)],
        "overwrite",
    )
    schema = "ts timestamp, value double"
    stream = (
        spark.readStream.schema(schema).option("maxFilesPerTrigger", "1").parquet(src)
    )
    q = (
        streaming.windowed_value_drift(stream, "ts", "value",
                                       window="5 minutes", watermark="10 minutes")
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", str(tmp_path / "wm_ckpt"))
        .outputMode("append")
        .start()
    )
    q.processAllAvailable()
    # batch 2: advance event time far enough that the watermark
    # (max_ts - 10min = 10:20) passes both earlier windows -> they finalize
    write_batch([("2024-01-01 10:30:00", 7.0)], "append")
    q.processAllAvailable()
    # batch 3: a too-late row for the already-finalized 10:00 window
    # (event time << watermark) plus a fresh row to trigger processing
    write_batch(
        [("2024-01-01 10:01:00", 100.0), ("2024-01-01 10:45:00", 9.0)], "append"
    )
    q.processAllAvailable()
    q.stop()

    got = {
        (str(r["window"]["start"]), r["n"], r["mean"])
        for r in spark.read.parquet(out).collect()
    }
    # the 10:00 window finalized with n=2, mean=2.0 — the late 100.0 row was
    # dropped, not merged and not re-emitted
    assert ("2024-01-01 10:00:00", 2, 2.0) in got
    assert ("2024-01-01 10:05:00", 1, 5.0) in got
    assert not any(s == "2024-01-01 10:00:00" and n != 2 for s, n, _ in got)


def test_windowed_drift_schema(spark):
    # static-frame check of the streaming aggregation expression shape
    df = spark.createDataFrame(
        [("2024-01-01 00:01:00", 1.0), ("2024-01-01 00:02:00", 3.0)],
        "ts string, value double",
    ).select(F.col("ts").cast("timestamp").alias("ts"), "value")
    agg = (
        df.groupBy(F.window("ts", "5 minutes"))
        .agg(F.count(F.lit(1)).alias("n"), F.avg("value").alias("mean"),
             F.min("value").alias("min"), F.max("value").alias("max"))
    ).collect()
    assert agg[0]["n"] == 2 and agg[0]["mean"] == 2.0


def _stream(spark, tmp_path, clips, suite, **kw):
    """Run ``stream_validate`` over ``clips`` landing in two chunks (so
    duplicated clip_ids can split across micro-batches); returns the sink."""
    src_dir = str(tmp_path / "landing")
    a, b = clips.randomSplit([0.5, 0.5], seed=7)
    a.write.mode("overwrite").parquet(src_dir)
    stream = (
        spark.readStream.schema(clips.schema)
        .option("maxFilesPerTrigger", "2")
        .parquet(src_dir)
    )
    out = str(tmp_path / "verdicts")
    q = streaming.stream_validate(
        stream, suite, ["clip_id"], out, str(tmp_path / "ckpt"), n_buckets=8, **kw
    )
    q.processAllAvailable()
    b.write.mode("append").parquet(src_dir)
    q.processAllAvailable()
    q.stop()
    return out


def _verdict_map(df):
    return {
        r["constraint"]: (r["violation_count"], r["rows_scanned"], r["passed"])
        for r in df.collect()
    }


def test_cumulative_verdicts_honor_null_rate(spark, tmp_path):
    """A tolerant NotNull (max_null_rate > 0) over a column holding some
    nulls passes when streamed exactly as it passes in a batch run: the
    cumulative merge applies the suite's tolerance, not violation_count == 0."""
    from engine.suite import ConstraintSuite, NotNull

    clips = synth.gen_clips(spark, 1000, partitions=2).cache()
    suite = ConstraintSuite().add(
        NotNull("transcript_tolerant", column="transcript", max_null_rate=0.01)
    )
    out = _stream(spark, tmp_path, clips, suite)
    got = _verdict_map(streaming.cumulative_verdicts(spark, out, suite=suite))
    batch = checks.run_suite(clips, suite, ["clip_id"], n_buckets=8, stat_columns=[])
    assert got == _verdict_map(batch.verdicts)
    count, _, passed = got["transcript_tolerant"]
    assert count > 0 and passed
    batch.close()
    clips.unpersist()


@pytest.mark.slow
def test_stream_validate_audio_matches_batch(spark, tmp_path):
    """check_audio=True streams the FULL invariant pass (real PCM decode +
    SNR, container-sr, transcript equality vs the static dim) through the
    same suite compiler as the batch run: per-bucket and cumulative verdicts
    of every streamed constraint equal validate(check_audio=True), including
    duplicated clip_ids split across micro-batches."""
    from engine.runner import validate

    n = 1000
    clips = synth.gen_clips(spark, n, partitions=4).cache()
    tr = synth.gen_transcripts(spark, n, partitions=2).cache()
    suite = audio_clip_suite()
    out = _stream(spark, tmp_path, clips, suite, transcripts=tr, check_audio=True)

    key = ("bucket_id", "constraint")
    streamed = {
        (r["bucket_id"], r["constraint"]): (r["violation_count"], r["rows_scanned"])
        for r in spark.read.parquet(out).groupBy(*key).agg(
            F.sum("violation_count").alias("violation_count"),
            F.sum("rows_scanned").alias("rows_scanned"),
        ).collect()
    }
    got = _verdict_map(streaming.cumulative_verdicts(spark, out, suite=suite))
    names = {c for _, c in streamed}
    assert names == {c.name for c in suite.row_local()} | {
        "pcm_snr_invariant", "transcript_equality", "container_sr_consistency"}

    with validate(clips, tr, check_audio=True, n_buckets=8) as res:
        batch = {
            (r["bucket_id"], r["constraint"]): (r["violation_count"], r["rows_scanned"])
            for r in res.partition_verdicts.collect()
            if r["constraint"] in names
        }
        exp = {c: v for c, v in _verdict_map(res.verdicts).items() if c in names}
    assert streamed == batch
    assert got == exp
