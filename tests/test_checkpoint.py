"""Resumability contract (FIXTURES.md §4): crash after k of n shards, resume
with the same run_id -> done shards skipped, final verdicts equal an
uninterrupted run."""

from __future__ import annotations

import pytest

from engine import synth
from engine.checkpoint import CheckpointedRunner
from engine.suite import audio_clip_suite

N = 3000
N_SHARDS = 6


@pytest.fixture(scope="module")
def tables(spark):
    clips = synth.gen_clips(spark, N, partitions=8).cache()
    transcripts = synth.gen_transcripts(spark, N, partitions=4).cache()
    clips.count(), transcripts.count()
    return clips, transcripts


def _verdict_map(df):
    return {
        r["constraint"]: (r["violation_count"], r["rows_scanned"], r["passed"])
        for r in df.collect()
    }


def test_crash_resume_equals_fresh(spark, tables, tmp_path):
    clips, transcripts = tables
    suite = audio_clip_suite()
    refs = {"transcripts": transcripts}

    fresh_dir = str(tmp_path / "ckpt_fresh")
    fresh = CheckpointedRunner(spark, fresh_dir).run(
        clips, suite, ["clip_id"], refs=refs, run_id="fresh", n_shards=N_SHARDS
    )
    fresh_v = _verdict_map(fresh)

    crash_dir = str(tmp_path / "ckpt_crash")
    runner = CheckpointedRunner(spark, crash_dir)
    with pytest.raises(RuntimeError, match="simulated crash"):
        runner.run(clips, suite, ["clip_id"], refs=refs, run_id="r1",
                   n_shards=N_SHARDS, fail_after=3)
    assert runner.done_shards("r1") == {0, 1, 2}

    resumed = runner.run(clips, suite, ["clip_id"], refs=refs, run_id="r1",
                         n_shards=N_SHARDS)
    # done shards were skipped: lineage still has exactly N_SHARDS shard rows
    lin = runner.lineage("r1").collect()
    assert [r["shard_id"] for r in lin] == list(range(N_SHARDS))
    assert _verdict_map(resumed) == fresh_v

    # rows_scanned across shards covers the whole table exactly once
    manifest = synth.plant_manifest(N)
    total = N + len(manifest["clip_id_duplicate"])
    assert sum(r["rows_scanned"] for r in lin) == total


def test_snapshot_table_time_travel(spark, tmp_path):
    """Iceberg-shaped checkpoint semantics: every append is a snapshot with a
    manifest; time travel reconstructs the table as of any snapshot."""
    from engine.snapshots import SnapshotTable

    t = SnapshotTable(spark, str(tmp_path / "snaptbl"))
    assert t.read() is None and t.snapshots() == []
    s1 = t.append(spark.createDataFrame([(1, "a")], "k int, v string"))
    s2 = t.append(spark.createDataFrame([(2, "b")], "k int, v string"))
    snaps = t.snapshots()
    assert [m["snapshot_id"] for m in snaps] == [s1, s2]
    assert snaps[0]["parent_snapshot_id"] is None
    assert snaps[1]["parent_snapshot_id"] == s1
    assert snaps[1]["added_rows"] == 1
    assert {r["k"] for r in t.time_travel(s1).collect()} == {1}
    assert {r["k"] for r in t.time_travel(s2).collect()} == {1, 2}
    assert {r["k"] for r in t.read().collect()} == {1, 2}


def test_checkpoint_snapshot_lineage(spark, tables, tmp_path):
    """Each completed shard commits one checkpoint snapshot; time-traveling
    to snapshot k yields the verdicts the run knew after k shards."""
    clips, transcripts = tables
    suite = audio_clip_suite()
    runner = CheckpointedRunner(spark, str(tmp_path / "ckpt_snap"))
    runner.run(clips, suite, ["clip_id"], refs={"transcripts": transcripts},
               run_id="tt", n_shards=4)
    snaps = runner.table.snapshots()
    assert len(snaps) == 4
    assert [m["properties"]["shard_id"] for m in snaps] == [0, 1, 2, 3]
    # after 2 of 4 shards, rows_scanned covers exactly those shards' rows
    partial = runner.verdicts_at("tt", snaps[1]["snapshot_id"], suite=suite)
    full = runner.verdicts("tt", suite=suite)
    p = {r["constraint"]: r["rows_scanned"] for r in partial.collect()}
    f = {r["constraint"]: r["rows_scanned"] for r in full.collect()}
    assert set(p) == set(f)
    assert all(0 < p[c] < f[c] for c in p)


def test_bucketed_shard_storage_prunes(spark, tables, tmp_path):
    """With shard_storage_path the fact table is materialized partitioned by
    __shard; each shard scan partition-prunes to its own files instead of
    re-reading the table, and verdicts are unchanged."""
    clips, transcripts = tables
    suite = audio_clip_suite()
    refs = {"transcripts": transcripts}
    store = str(tmp_path / "fact_by_shard")

    runner = CheckpointedRunner(spark, str(tmp_path / "ckpt_bucketed"))
    bucketed = runner.run(clips, suite, ["clip_id"], refs=refs, run_id="b1",
                          n_shards=N_SHARDS, shard_storage_path=store)
    plain = CheckpointedRunner(spark, str(tmp_path / "ckpt_plain")).run(
        clips, suite, ["clip_id"], refs=refs, run_id="p1", n_shards=N_SHARDS
    )
    assert _verdict_map(bucketed) == _verdict_map(plain)

    # the per-shard scan is a real partition prune: filtering one shard value
    # reads ~1/n_shards of the files
    stored = spark.read.parquet(store)
    one = stored.filter("__shard = 3")
    plan = one._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "__shard" in plan.split("PartitionFilters")[1][:200]
    import glob

    all_files = glob.glob(f"{store}/__shard=*/**/*.parquet", recursive=True)
    shard_files = glob.glob(f"{store}/__shard=3/**/*.parquet", recursive=True)
    assert 0 < len(shard_files) < len(all_files)


def test_partial_shard_storage_rewritten(spark, tables, tmp_path):
    """ADVICE r2: a crash mid-materialization leaves a partial partitioned
    table WITHOUT the _SUCCESS marker; a resumed run must rewrite it instead
    of silently validating the fragment."""
    import glob
    import os

    clips, transcripts = tables
    suite = audio_clip_suite()
    store = str(tmp_path / "fact_partial")

    # simulate the crash artifact: one shard's files present, no _SUCCESS
    from engine import checks
    from pyspark.sql import functions as F

    sharded = clips.withColumn("__shard", checks.bucket_expr(["clip_id"], N_SHARDS))
    sharded.filter("__shard = 0").write.partitionBy("__shard").parquet(store)
    os.remove(os.path.join(store, "_SUCCESS"))
    partial_rows = spark.read.parquet(store).count()
    assert partial_rows < clips.count()

    runner = CheckpointedRunner(spark, str(tmp_path / "ckpt_partial"))
    verdicts = runner.run(clips, suite, ["clip_id"],
                          refs={"transcripts": transcripts}, run_id="pp",
                          n_shards=N_SHARDS, shard_storage_path=store)
    assert os.path.exists(os.path.join(store, "_SUCCESS"))
    assert spark.read.parquet(store).count() == clips.count()
    total = sum(r["rows_scanned"] for r in runner.lineage("pp").collect())
    assert total == clips.count()


def test_snapshot_orphan_data_dir_recovered(spark, tmp_path):
    """ADVICE r2: a crash between the snapshot data write and the manifest
    commit leaves an orphan snap-{sid} dir; the deterministic sid means every
    retry hits it — append must clear uncommitted dirs, not error forever."""
    import os

    from engine.snapshots import SnapshotTable

    t = SnapshotTable(spark, str(tmp_path / "snap_orphan"))
    s1 = t.append(spark.createDataFrame([(1, "a")], "k int, v string"))
    # simulate: data for snapshot 2 written, manifest never committed
    orphan = os.path.join(t.data_dir, f"snap-{s1 + 1:08d}")
    spark.createDataFrame([(99, "crash")], "k int, v string").write.parquet(orphan)
    assert os.path.isdir(orphan)

    s2 = t.append(spark.createDataFrame([(2, "b")], "k int, v string"))
    assert s2 == s1 + 1
    # the orphan's rows are NOT visible; the committed append's are
    assert {r["k"] for r in t.read().collect()} == {1, 2}


def test_resumed_verdicts_honor_null_rate(spark, tables, tmp_path):
    """A suite with max_null_rate > 0: resumed/merged verdicts apply the same
    tolerance as an uninterrupted checks.run_suite run."""
    from engine import checks
    from engine.suite import ConstraintSuite, NotNull

    clips, transcripts = tables
    # transcript nulls are planted at ~1/500: a 1% tolerance must PASS
    suite = ConstraintSuite()
    suite.add(NotNull("transcript_tolerant", column="transcript", max_null_rate=0.01))
    runner = CheckpointedRunner(spark, str(tmp_path / "ckpt_rate"))
    merged = runner.run(clips, suite, ["clip_id"], run_id="rate1", n_shards=4)
    direct = checks.run_suite(clips, suite, ["clip_id"], n_buckets=4, stat_columns=[])
    assert _verdict_map(merged) == _verdict_map(direct.verdicts)
    assert _verdict_map(merged)["transcript_tolerant"][2] is True  # passed


def test_shard_stats_lineage_merges_to_direct_scan(spark, tables, tmp_path):
    """North rule: per-partition lineage carries STAT METRICS. Per-shard
    mergeable partials (rows/nulls/min/max/sum/sumsq/HLL) roll up to global
    column stats equal to a direct one-scan column_stats run — including
    after a crash + resume (replayed shards' partials dedupe)."""
    import math

    from engine import stats as stats_mod

    clips, transcripts = tables
    suite = audio_clip_suite()
    cols = ["sr_hz", "dur_ms", "codec"]

    runner = CheckpointedRunner(spark, str(tmp_path / "ckpt_stats"))
    with pytest.raises(RuntimeError, match="simulated crash"):
        runner.run(clips, suite, ["clip_id"], refs={"transcripts": transcripts},
                   run_id="st", n_shards=4, stat_columns=cols, fail_after=2)
    runner.run(clips, suite, ["clip_id"], refs={"transcripts": transcripts},
               run_id="st", n_shards=4, stat_columns=cols)

    lineage = runner.shard_stats("st")
    assert lineage.select("shard_id").distinct().count() == 4

    merged = {
        (r["column_name"], r["metric"]): r["value"]
        for r in runner.stats("st").collect()
    }
    direct = {
        (r["column_name"], r["metric"]): r["value"]
        for r in stats_mod.column_stats(clips, cols).collect()
    }
    assert set(merged) == set(direct)
    for k in direct:
        a, b = merged[k], direct[k]
        if a is None or b is None:
            assert a == b, k
        elif k[1] == "approx_ndv":
            # HLL register sets depend on partial grouping; the union is
            # lossless in registers but estimates differ within sketch error
            assert math.isclose(a, b, rel_tol=0.02), (k, a, b)
        else:
            assert math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-9), (k, a, b)


def test_shard_counts_match_direct_run(spark, tables, tmp_path):
    """Shard-summed verdicts == single-pass run_suite verdicts."""
    from engine import checks

    clips, transcripts = tables
    suite = audio_clip_suite()
    direct = checks.run_suite(
        clips, suite, ["clip_id"], refs={"transcripts": transcripts},
        n_buckets=4, stat_columns=[],
    )
    runner = CheckpointedRunner(spark, str(tmp_path / "ckpt2"))
    sharded = runner.run(clips, suite, ["clip_id"],
                         refs={"transcripts": transcripts}, run_id="x",
                         n_shards=4)
    assert _verdict_map(sharded) == _verdict_map(direct.verdicts)


def test_shard_stats_with_empty_shards(spark, tmp_path):
    """Regression (r3 review): n_shards exceeding the key spread leaves some
    hash buckets EMPTY — the stats lineage must record zero partials for
    them instead of crashing the run."""
    from engine import stats as stats_mod
    from engine.suite import ConstraintSuite, NotNull

    tiny = spark.createDataFrame(
        [(f"k{i}", i * 10) for i in range(3)], "clip_id string, dur_ms int"
    )
    suite = ConstraintSuite().add(NotNull("id_nn", column="clip_id"))
    runner = CheckpointedRunner(spark, str(tmp_path / "ckpt_tiny"))
    runner.run(tiny, suite, ["clip_id"], run_id="tiny", n_shards=16,
               stat_columns=["dur_ms"])
    assert runner.shard_stats("tiny").select("shard_id").distinct().count() == 16
    merged = {r["metric"]: r["value"] for r in runner.stats("tiny").collect()}
    assert merged["count"] == 3.0 and merged["min"] == 0.0 and merged["max"] == 20.0


@pytest.fixture(scope="module")
def small_tables(spark):
    clips = synth.gen_clips(spark, 1000, partitions=4).cache()
    transcripts = synth.gen_transcripts(spark, 1000, partitions=2).cache()
    clips.count(), transcripts.count()
    yield clips, transcripts
    clips.unpersist(), transcripts.unpersist()


def test_payload_checks_match_validate_per_shard(spark, small_tables, tmp_path):
    """The payload checks run through the same suite compiler in the
    checkpoint runner: all 10 verdicts equal validate(check_audio=True), and
    each shard's rows equal the matching bucket of a validate run with
    n_buckets == n_shards (shards and buckets share one hash)."""
    from engine.runner import validate
    from engine.suite import with_payload_checks

    clips, transcripts = small_tables
    suite = with_payload_checks(audio_clip_suite())
    runner = CheckpointedRunner(spark, str(tmp_path / "ckpt_payload"))
    merged = runner.run(clips, suite, ["clip_id"],
                        refs={"transcripts": transcripts}, run_id="p", n_shards=2)
    shards = {
        (r["shard_id"], r["constraint"]): (r["violation_count"], r["rows_scanned"])
        for r in runner.table.read().filter("run_id = 'p'").collect()
    }
    with validate(clips, transcripts, check_audio=True, n_buckets=2) as res:
        assert _verdict_map(merged) == _verdict_map(res.verdicts)
        buckets = {
            (r["bucket_id"], r["constraint"]): (r["violation_count"], r["rows_scanned"])
            for r in res.partition_verdicts.collect()
        }
    assert len(_verdict_map(merged)) == 10
    assert shards == buckets


def test_run_releases_cached_frames(spark, small_tables, tmp_path):
    """Every shard's run_suite result is closed: after a 2-shard run (row
    checks, Unique, RefIntegrity and the payload pass all persist frames)
    the session holds no more cached plans than before."""
    from engine.suite import with_payload_checks

    clips, transcripts = small_tables
    cache = spark._jsparkSession.sharedState().cacheManager()
    before = cache.numCachedEntries()
    CheckpointedRunner(spark, str(tmp_path / "ckpt_cache")).run(
        clips, with_payload_checks(audio_clip_suite()), ["clip_id"],
        refs={"transcripts": transcripts}, run_id="c", n_shards=2,
    ).collect()
    assert cache.numCachedEntries() == before


def _stat_map(df):
    return {(r["column_name"], r["metric"]): r["value"] for r in df.collect()}


@pytest.mark.parametrize("rows", [
    [("k0", 10, None, "flac"), ("k1", 20, None, None), ("k2", 20, None, "mp3")],
    [],
], ids=["all_null_numeric", "empty"])
def test_stats_agree_across_entry_points(spark, tmp_path, rows):
    """validate().stats, stats.column_stats and CheckpointedRunner.stats (4
    shards, some empty) give the same stats, with one empty-input meaning:
    count, null_count and approx_ndv 0, every ratio and moment null."""
    import math

    from engine import stats as stats_mod
    from engine.runner import validate
    from engine.suite import ConstraintSuite, NotNull

    df = spark.createDataFrame(rows, "clip_id string, dur_ms int, score double, codec string")
    cols = ["dur_ms", "score", "codec"]
    suite = ConstraintSuite().add(NotNull("id_nn", column="clip_id"))
    direct = _stat_map(stats_mod.column_stats(df, cols))
    with validate(df, suite=suite, stat_columns=cols) as res:
        batch = _stat_map(res.stats)
    runner = CheckpointedRunner(spark, str(tmp_path / "ckpt"))
    runner.run(df, suite, ["clip_id"], run_id="par", n_shards=4, stat_columns=cols)
    assert any(r["rows_scanned"] == 0 for r in runner.lineage("par").collect())
    sharded = _stat_map(runner.stats("par"))

    for got in (batch, sharded):
        assert set(got) == set(direct)
        for k, want in direct.items():
            a = got[k]
            if a is None or want is None:
                assert a == want, k
            elif k[1] == "approx_ndv":
                assert math.isclose(a, want, rel_tol=0.02), (k, a, want)
            elif k[1] in ("mean", "stddev"):
                assert math.isclose(a, want, rel_tol=1e-9), (k, a, want)
            else:
                assert a == want, k

    n = float(len(rows))
    assert direct[("score", "count")] == n and direct[("score", "null_count")] == n
    assert direct[("score", "approx_ndv")] == 0.0
    for m in ("min", "max", "mean", "stddev"):
        assert direct[("score", m)] is None, m
    if not rows:
        for c in cols:
            assert [direct[(c, m)] for m in ("count", "null_count", "approx_ndv")] == [0, 0, 0]
            assert direct[(c, "null_rate")] is None
        assert [direct[("dur_ms", m)] for m in ("min", "max", "mean", "stddev")] == [None] * 4


def test_empty_input_verdicts(spark, small_tables, tmp_path):
    """Every constraint of the full suite gets a (0, 0, passed) verdict on an
    empty input, from validate and from the checkpoint runner alike; no
    bucket was scanned, and a run with no finished shard reports nothing."""
    from engine.runner import validate
    from engine.suite import with_payload_checks

    clips, transcripts = small_tables
    empty = spark.createDataFrame([], clips.schema)
    no_gold = spark.createDataFrame([], transcripts.schema)
    suite = with_payload_checks(audio_clip_suite())
    zero = {name: (0, 0, True) for name in suite.names()}
    with validate(empty, no_gold, check_audio=True) as res:
        assert _verdict_map(res.verdicts) == zero
        assert res.partition_verdicts.count() == 0
    runner = CheckpointedRunner(spark, str(tmp_path / "ckpt_empty"))
    merged = runner.run(empty, suite, ["clip_id"], refs={"transcripts": no_gold},
                        run_id="e", n_shards=3)
    assert _verdict_map(merged) == zero
    assert runner.done_shards("e") == {0, 1, 2}
    assert runner.verdicts("never-run", suite=suite).count() == 0
