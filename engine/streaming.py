"""Structured Streaming front-end for the validation suite.

The reference's streaming story is an unbounded regenerated source with state
carried across batches (``infinite_dataset.py:55-76``). The engine's primary
answer is batch-incremental checkpointing (engine/checkpoint.py — SURVEY.md
§2.10 records why: resumable shards beat long-lived streaming state at 10^12
rows). This module adds the true-streaming variant for pipelines that ARE
streams (e.g. clips landing continuously): each micro-batch is one
``checks.run_suite`` call — the same suite compiler the batch and checkpoint
entry points use — over the suite's row-local and payload checks, via
``foreachBatch``. Its per-bucket verdict rows are appended to a
checkpoint-style sink, so state lives in the sink, not the stream, and
``cumulative_verdicts`` merges them with the shared ``checks.rollup_verdicts``.

Row-local checks need no watermark (stateless per row). Windowed drift over
event time (count/mean per tumbling window) is included as the stateful demo
with a watermark for late data.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from engine import checks as checks_mod
from engine.suite import ConstraintSuite, PayloadCheck, with_payload_checks


def stream_validate(
    stream_df: DataFrame,
    suite: ConstraintSuite,
    key_cols: list[str],
    out_path: str,
    checkpoint_dir: str,
    n_buckets: int = 32,
    transcripts: DataFrame | None = None,
    check_audio: bool = False,
):
    """Attach the suite's per-row checks to a streaming DataFrame.

    Each micro-batch runs ``checks.run_suite`` on the suite's row-local and
    payload checks (Unique/RefIntegrity need global state and are left to
    the batch entry points) and appends its per-bucket verdict rows (+ batch_id)
    to ``out_path``. Returns the StreamingQuery. Cumulative verdicts =
    ``cumulative_verdicts`` over the sink — exactly the checkpoint-table
    merge semantics, because micro-batches partition the rows.

    ``check_audio=True`` adds the payload checks (``suite.payload_checks``:
    real PCM decode + SNR, container-sr cross-field, transcript equality
    against the STATIC ``transcripts`` dim; stream-static join semantics), so
    streaming ingest of a clip table gets the same per-row verdicts as a
    batch ``validate(check_audio=True)``."""
    if check_audio:
        if transcripts is None:
            # silently skipping the requested audio pass would report clean
            # verdicts the caller never computed
            raise ValueError("check_audio=True requires a transcripts DataFrame")
        suite = with_payload_checks(suite)
    per_row = ConstraintSuite(
        [c for c in suite.constraints if c.row_local or isinstance(c, PayloadCheck)]
    )
    refs = {"transcripts": transcripts} if transcripts is not None else {}

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        with checks_mod.run_suite(
            batch_df, per_row, key_cols, refs=refs, n_buckets=n_buckets,
            stat_columns=[],
        ) as res:
            # idempotent sink: a retried micro-batch overwrites ITS OWN
            # batch_id partition instead of appending a second copy (dynamic
            # partition overwrite touches only partitions present in this write)
            res.partition_verdicts.drop("passed").withColumn(
                "batch_id", F.lit(batch_id)
            ).write.mode("overwrite").option(
                "partitionOverwriteMode", "dynamic"
            ).partitionBy("batch_id").parquet(out_path)

    return (
        stream_df.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("update")
        .start()
    )


def cumulative_verdicts(
    spark, out_path: str, suite: ConstraintSuite | None = None
) -> DataFrame:
    """Merge streamed per-batch verdict rows into global verdicts. Pass the
    suite so NotNull max_null_rate tolerances apply exactly as in a batch
    run; without it every constraint requires 0 violations.

    (batch_id, bucket_id, constraint) is unique per successful batch write, so
    the dropDuplicates is a no-op on clean runs and absorbs duplicate rows if
    a sink without partition-overwrite semantics ever double-appends."""
    df = spark.read.parquet(out_path).dropDuplicates(
        ["batch_id", checks_mod.BUCKET, "constraint"]
    )
    return checks_mod.rollup_verdicts(df, suite)


def stateful_ewma_stream(
    stream_df: DataFrame,
    value_col: str,
    order_col: str,
    series_col: str,
    alpha: float = 0.1,
):
    """Custom stateful streaming operator: per-series EWMA forecast +
    residual with state CARRIED ACROSS micro-batches via
    ``applyInPandasWithState`` — the true-streaming analog of the reference's
    carried-state-across-batches semantics (infinite_dataset.py:70-76) and of
    the batch ``scoring.ewma_residual``.

    State per series is two scalars (the adjust=True recursion
    ``num_t = (1-a) num_{t-1} + x_t``, ``den_t = (1-a) den_{t-1} + 1``;
    forecast_t = num_{t-1}/den_{t-1}), so state size is O(n_series) — bounded
    at any stream length. The in-batch scan is VECTORIZED via the recursion's
    closed form (no per-row Python): num_t = r^t num_0 + r^t Σ x_j r^{-j},
    evaluated in overflow-safe chunks (r^{-j} grows as e^{j|ln r|}).
    Rows inside a batch are processed in ``order_col`` order; batches must
    arrive in order per series (true for replayed/landing files;
    out-of-order streams need watermarked reordering upstream). 0 < alpha < 1.
    """
    import numpy as np
    import pandas as pd

    r = 1.0 - alpha
    # keep r^{-chunk} below e^300 (double max ~e^709, with headroom)
    chunk = max(1, min(4096, int(300.0 / max(-np.log(r), 1e-12))))

    def scan(x: np.ndarray, num: float, den: float):
        """Forecasts (state BEFORE each x) + final (num, den), vectorized."""
        fc = np.empty(len(x))
        for i in range(0, len(x), chunk):
            c = x[i : i + chunk]
            m = len(c)
            p = r ** np.arange(1, m + 1)             # r^t, t = 1..m
            rinv_j = r ** -np.arange(1, m + 1)       # r^{-j}, j = 1..m
            num_t = p * (num + np.cumsum(c * rinv_j))
            den_t = p * den + (1.0 - p) / alpha
            prev_num = np.concatenate(([num], num_t[:-1]))
            prev_den = np.concatenate(([den], den_t[:-1]))
            fc[i : i + m] = np.where(prev_den > 0, prev_num / np.where(prev_den > 0, prev_den, 1.0), np.nan)
            num, den = float(num_t[-1]), float(den_t[-1])
        return fc, num, den

    out_schema = (
        f"{series_col} string, {order_col} long, {value_col} double, "
        "ewma double, residual double"
    )
    state_schema = "num double, den double"

    def update(key, pdfs, state):
        num, den = state.get if state.exists else (0.0, 0.0)
        # a LARGE group arrives as multiple pdf chunks whose row ranges can
        # interleave arbitrarily — sorting each chunk alone would scramble the
        # recursion order (caught by the 50%-skew parity test). Concatenate
        # the batch's group rows, then ONE global sort. Memory is bounded by
        # the per-micro-batch group size, not the stream length — for a group
        # too big for that, shrink the micro-batch (maxFilesPerTrigger /
        # maxOffsetsPerTrigger), which is the knob this operator documents.
        pdf = pd.concat(list(pdfs), ignore_index=True)
        if len(pdf):
            pdf = pdf.sort_values(order_col)
            x = pdf[value_col].to_numpy(dtype=np.float64)
            fc, num, den = scan(x, num, den)
            yield pd.DataFrame(
                {
                    series_col: pdf[series_col].to_numpy(),
                    order_col: pdf[order_col].to_numpy(),
                    value_col: x,
                    "ewma": fc,
                    "residual": x - fc,
                }
            )
        state.update((num, den))

    return stream_df.groupBy(series_col).applyInPandasWithState(
        update, out_schema, state_schema, "append", "NoTimeout"
    )


def windowed_value_drift(
    stream_df: DataFrame,
    ts_col: str,
    value_col: str,
    window: str = "5 minutes",
    watermark: str = "10 minutes",
) -> DataFrame:
    """Event-time tumbling-window stats with a watermark for late data —
    the streaming analog of the per-bucket stats pass (mergeable partials
    per window). Feed to ``writeStream`` in append mode."""
    return (
        stream_df.withWatermark(ts_col, watermark)
        .groupBy(F.window(F.col(ts_col), window))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.avg(value_col).alias("mean"),
            F.min(value_col).alias("min"),
            F.max(value_col).alias("max"),
        )
    )
