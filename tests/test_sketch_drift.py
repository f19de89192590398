"""t-digest correctness (vs exact quantiles), merge invariance, and drift
detection from exact counts on baseline-vs-drifted fixtures (SURVEY.md §7
hard-part 1)."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from engine import drift, synth
from engine.sketch import TDigest, build_digest, categorical_psi

RNG = np.random.default_rng(42)


def test_tdigest_quantiles_vs_exact():
    x = RNG.lognormal(3.0, 0.8, 200_000)
    d = TDigest(200).add(x)
    for q in (0.01, 0.1, 0.25, 0.5, 0.75, 0.9, 0.99, 0.999):
        exact = np.quantile(x, q)
        got = d.quantile(q)
        assert abs(got - exact) / exact < 0.02, (q, got, exact)


def test_tdigest_merge_equals_single():
    x = RNG.normal(10, 3, 100_000)
    whole = TDigest(200).add(x)
    parts = [TDigest(200).add(c) for c in np.array_split(x, 13)]
    merged = parts[0]
    for p in parts[1:]:
        merged = merged.merge(p)
    for q in (0.05, 0.5, 0.95, 0.99):
        assert abs(merged.quantile(q) - whole.quantile(q)) < 0.05
    assert merged.total_weight == pytest.approx(100_000)


def test_tdigest_serialization_roundtrip():
    x = RNG.uniform(0, 1, 10_000)
    d = TDigest(100).add(x)
    d2 = TDigest.from_bytes(d.to_bytes())
    for q in (0.1, 0.5, 0.9):
        assert d2.quantile(q) == d.quantile(q)


def test_build_digest_distributed(spark):
    n = 50_000
    df = spark.range(0, n, 1, 16).select(
        (F.rand(seed=7) * 100).alias("v")
    )
    pdf = df.toPandas()
    d = build_digest(df, "v")
    assert d.total_weight == pytest.approx(n)
    for q in (0.1, 0.5, 0.9, 0.99):
        assert abs(d.quantile(q) - np.quantile(pdf["v"], q)) < 1.0


def test_drift_check_same_low_shifted_high(spark):
    """A second sample of the baseline's distribution stays low on KS and
    PSI; a one-sigma shift is high on both."""
    def normal(seed: int, mean: float):
        return spark.range(0, 50_000, 1, 4).select((F.randn(seed=seed) + mean).alias("v"))

    b = drift.fit_baseline(normal(1, 0.0), ["v"])
    same = drift.drift_check(normal(2, 0.0), b).set_index("metric")["value"]
    shifted = drift.drift_check(normal(3, 1.0), b).set_index("metric")["value"]
    assert same["ks"] < 0.03 and same["psi"] < 0.02, same
    assert shifted["ks"] > 0.3 and shifted["psi"] > 0.5, shifted


def test_categorical_psi():
    base = {"pcm": 700, "flac": 150, "opus": 100, "mp3": 50}
    same = {"pcm": 1400, "flac": 300, "opus": 200, "mp3": 100}
    shifted = {"pcm": 300, "flac": 150, "opus": 500, "mp3": 50}
    assert categorical_psi(base, same) < 1e-9
    assert categorical_psi(base, shifted) > 0.2


@pytest.mark.slow
def test_drift_check_end_to_end(spark):
    clips = synth.gen_clips(spark, 3000, partitions=8).cache()
    clips.count()
    baseline = drift.fit_baseline(
        clips, numeric_cols=["dur_ms", "sr_hz"], categorical_cols=["codec"],
    )

    # un-drifted: a fresh identical generation must NOT trip (FIXTURES.md §3)
    rep = drift.drift_check(clips, baseline)
    assert rep["passed"].all(), rep

    # drifted: dur_ms +25%, codec mix shifted -> must trip
    drifted = clips.withColumn(
        "dur_ms", (F.col("dur_ms") * 1.25).cast("int")
    ).withColumn(
        "codec",
        F.when(F.pmod(F.xxhash64("clip_id"), F.lit(10)) < 4, F.lit("opus")).otherwise(
            F.col("codec")
        ),
    )
    rep2 = drift.drift_check(drifted, baseline)
    # exact counts: a rerun gives a bit-identical report
    pd.testing.assert_frame_equal(drift.drift_check(drifted, baseline), rep2)
    by = {(r.column_name, r.metric): r for r in rep2.itertuples()}
    assert not by[("dur_ms", "ks")].passed
    assert not by[("dur_ms", "psi")].passed
    assert not by[("codec", "psi_categorical")].passed
    # sr_hz untouched -> stays clean
    assert by[("sr_hz", "ks")].passed


def test_baseline_save_load_roundtrip(spark, tmp_path):
    clips = synth.gen_clips(spark, 1000, partitions=4)
    b = drift.fit_baseline(clips, ["dur_ms"], ["codec"], snapshot_id="baseline_v1")
    path = str(tmp_path / "baseline_stats.parquet")
    drift.save_baseline(spark, b, path)
    b2 = drift.load_baseline(spark, path)
    assert b2.snapshot_id == "baseline_v1"
    assert len(drift.edges(b.grids["dur_ms"])) > 50
    assert drift.edges(b2.grids["dur_ms"]) == drift.edges(b.grids["dur_ms"])
    assert b2.bucket_counts == b.bucket_counts
    assert sum(b.bucket_counts["dur_ms"]) == b.n_rows == b2.n_rows
    assert b2.cat_counts == b.cat_counts
    assert b2 == b


def test_load_baseline_unknown_snapshot_raises(spark, tmp_path):
    """An unknown snapshot id, or a file with no rows, must not load as an
    empty baseline (which would check nothing and pass)."""
    clips = synth.gen_clips(spark, 200, partitions=2)
    path = str(tmp_path / "baseline_stats.parquet")
    drift.save_baseline(spark, drift.fit_baseline(clips, ["dur_ms"], ["codec"]), path)
    with pytest.raises(ValueError, match=r"'nope'.*baseline_v1"):
        drift.load_baseline(spark, path, snapshot_id="nope")
    empty = str(tmp_path / "empty.parquet")
    spark.read.parquet(path).limit(0).write.parquet(empty)
    with pytest.raises(ValueError, match="not found"):
        drift.load_baseline(spark, empty)


def test_load_baseline_rejects_tdigest_format(spark, tmp_path):
    """A baseline saved as t-digests (the format before the exact-count one)
    is refused by name, never compared against counts."""
    path = str(tmp_path / "old_baseline.parquet")
    d = TDigest(200).add(RNG.normal(0, 1, 1_000))
    spark.createDataFrame(
        [("baseline_v1", "dur_ms", "numeric", d.to_bytes(), None, None, 1_000)],
        "snapshot_id string, column_name string, kind string, tdigest binary, "
        "categories array<string>, category_counts array<long>, n_rows long",
    ).write.parquet(path)
    with pytest.raises(ValueError, match="t-digest"):
        drift.load_baseline(spark, path)


def test_drift_check_empty_and_all_null(spark):
    """With no non-null value on either side a numeric column reports NaN,
    not passed, for both KS and PSI; the other columns are unaffected."""
    clips = synth.gen_clips(spark, 500, partitions=2).cache()
    b = drift.fit_baseline(clips, ["dur_ms", "sr_hz"], ["codec"])
    no_dur = clips.withColumn("dur_ms", F.lit(None).cast("int"))
    for cur, nan_cols in ((clips.limit(0), {"dur_ms", "sr_hz"}), (no_dur, {"dur_ms"})):
        rep = drift.drift_check(cur, b)
        num = rep[rep["metric"].isin(["ks", "psi"])]
        nan = num[num["column_name"].isin(nan_cols)]
        assert len(nan) == 2 * len(nan_cols)
        assert nan["value"].isna().all() and not nan["passed"].any(), rep
        rest = num[~num["column_name"].isin(nan_cols)]
        assert (rest["value"] == 0.0).all() and rest["passed"].all(), rep
    all_null = drift.fit_baseline(no_dur, ["dur_ms"])
    rep = drift.drift_check(clips, all_null)
    assert rep["value"].isna().all() and not rep["passed"].any(), rep
    clips.unpersist()


def test_drift_queries_release_their_cached_clips(spark):
    """The two drift queries cache their clips for the fit, the check and
    the exact KS, and release them once the driver-side report is built:
    the session holds no more persisted RDDs than before."""
    from engine import queries

    persistent = spark.sparkContext._jsc.getPersistentRDDs
    before = persistent().size()
    queries.drift_report_clips(spark, "").collect()
    queries.drift_sketch_accuracy_clips(spark, "").collect()
    assert persistent().size() == before

def test_build_digest_deterministic_across_reruns(spark):
    """Digest merging is order-sensitive at the float level; the pid-ordered
    merge must make digests BIT-identical across reruns of the same input
    (the engine-wide determinism rule)."""
    df = spark.range(0, 30_000, 1, 16).select((F.rand(seed=11) * 50).alias("v"))
    assert build_digest(df, "v").to_bytes() == build_digest(df, "v").to_bytes()


def test_sketch_quantile_threshold_vs_exact_sf001(spark, sf01_dir):
    """|q_sketch - q_exact| bound on the driver's events table: the
    scale-mode threshold (scoring.fit_quantile_threshold method='tdigest')
    stays within 0.5% rank error of the exact percentile."""
    from engine.scoring import fit_quantile_threshold

    ev = spark.read.parquet(f"{sf01_dir}/events.parquet")
    for q in (0.5, 0.9, 0.99):
        exact = fit_quantile_threshold(ev, "value", q=q, method="exact")
        sketch = fit_quantile_threshold(ev, "value", q=q, method="tdigest")
        n = ev.count()
        rank_exact = ev.filter(F.col("value") <= exact).count() / n
        rank_sketch = ev.filter(F.col("value") <= sketch).count() / n
        assert abs(rank_sketch - rank_exact) < 0.005, (q, sketch, exact)
