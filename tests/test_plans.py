"""Physical-plan regression tests: the PLANS.md properties that decide
100 TB behavior, asserted on the executed plan at sf0.01 so a refactor
that silently breaks pushdown / pruning / broadcast / map-side collapse
fails CI instead of only aging a doc."""

from __future__ import annotations

import pytest

SF = "/root/testdata/sf0.01"


def plan_of(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.fixture(scope="module")
def Q():
    from engine import queries as qmod

    return qmod.Q


def test_filter_pushdown_and_column_pruning(spark, Q):
    p = plan_of(Q["range_violations_events"](spark, SF))
    assert "PushedFilters: [" in p and ("GreaterThan" in p or "LessThan" in p)
    # pruned read: the scan must not fetch props/ts/event_type
    scan = [l for l in p.splitlines() if "FileScan" in l][0]
    assert "props" not in scan and "event_type" not in scan


def test_ri_antijoin_broadcasts_dim_not_fact(spark, Q):
    p = plan_of(Q["ri_orders_customer"](spark, SF))
    assert "BroadcastHashJoin" in p and "LeftAnti" in p
    assert "SortMergeJoin" not in p


def test_ann_topk_avoids_global_sort(spark, Q):
    p = plan_of(Q["ann_cosine_topk"](spark, SF))
    assert "TakeOrderedAndProject" in p


def test_winnow_shuffle_free_single_arrow_pass(spark, Q):
    """r7 shape: winnowing is ONE mapInArrow pass that emits final
    (doc_id, pos, fingerprint) rows straight out of the scan stage — the
    per-doc dedup happens inside the batch, so the old fingerprint groupBy
    Exchange is gone. The only Exchange allowed is the round-robin _spread
    of RAW doc rows (parallelizing a single-row-group scan); the gram
    stream (one row per character position) never exists as Spark rows at
    all, let alone crosses an Exchange."""
    p = plan_of(Q["winnow_fingerprints_documents"](spark, SF))
    assert p.count("MapInArrow") == 1, p
    exchanges = [l for l in p.splitlines() if "Exchange" in l
                 and "reuse" not in l.lower()]
    assert all("RoundRobinPartitioning" in l for l in exchanges), exchanges
    # the spread exchange carries raw doc rows, never gram/fingerprint data
    for l in exchanges:
        assert "fingerprint" not in l and "__hs" not in l, l


def test_minhash_signatures_collapse_inside_scan_stage(spark, Q):
    """r7 shape: MinHash signatures come out of ONE mapInArrow pass that
    emits (doc, band, minhash) rows directly — shingles never exist as
    Spark rows, so no Exchange can ever carry the gram stream. The only
    exchanges in the whole pair query are the round-robin _spread of raw
    doc rows and the (band, minhash) bucket groupBy above the signatures."""
    p = plan_of(Q["minhash_lsh_pairs"](spark, SF))
    assert p.count("MapInArrow") == 1, p
    assert "Generate explode" not in p or "shingle" not in p
    for l in p.splitlines():
        if "Exchange" in l and "reuse" not in l.lower():
            assert "shingle" not in l, l


def test_salted_collect_set_two_phase_shape(spark, Q):
    p = plan_of(Q["skewed_user_sets_salted_events"](spark, SF))
    assert "partial_collect_set" in p            # phase 1 map-side
    assert "__salt" in p                         # salted exchange key
    assert "partial_collect_list" in p           # phase 2 map-side merge prep


def test_fused_suite_scan_single_filescan_with_partials(spark):
    from engine import checks, queries as qmod

    ev = spark.read.parquet(f"{SF}/lineitem.parquet")
    part = spark.read.parquet(f"{SF}/part.parquet")
    res = checks.run_suite(ev, qmod.lineitem_suite(), key_cols=["l_orderkey"],
                           refs={"part": part}, n_buckets=8,
                           stat_columns=["l_quantity", "l_extendedprice"])
    # bucket_stats is the fused scan's wide per-bucket partials: ONE FileScan
    # of the fact table, every conditional sum + stat partial map-side
    p = plan_of(res.bucket_stats)
    fact_scans = [l for l in p.splitlines()
                  if "FileScan" in l and "lineitem" in l]
    assert len(fact_scans) == 1, fact_scans
    assert "partial_" in p  # map-side partial aggregation present
    # pruned read: unchecked/unstatted columns must not be fetched
    assert "l_comment" not in fact_scans[0] and "l_shipdate" not in fact_scans[0]


def test_quantile_threshold_broadcasts_one_row_aggregate(spark, Q):
    p = plan_of(Q["quantile_threshold_events"](spark, SF))
    assert "BroadcastNestedLoopJoin" in p or "BroadcastExchange" in p


def test_audio_features_query_broadcasts_dim_single_payload_scan(spark):
    """audio_features_clips (r5): the feature pass must read the payload in
    ONE mapInArrow scan, and the (clip_id, sr_hz, dur_ms) dim join must be
    a broadcast — never a sort-merge that would shuffle the feature rows."""
    from engine import queries as qmod

    p = plan_of(qmod.Q["audio_features_clips"](spark, SF))
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p
    # exactly one Python/Arrow map over the payload-bearing side
    assert p.count("MapInArrow") == 1, p.count("MapInArrow")
    # the binary column must not cross an Exchange: every exchange line
    # carries only narrow columns
    for line in p.splitlines():
        if "Exchange" in line and "reuse" not in line.lower():
            assert "bytes" not in line, line


def test_segment_query_broadcasts_dim_payload_never_shuffles(spark):
    """segment_clips_1s (r6c): the segment fan-out must come from ONE
    mapInArrow payload scan; per-segment sample counts are reduced map-side
    (partial aggregation) so the binary column never crosses an Exchange;
    the (clip_id, sr_hz, dur_ms) dim join must be a broadcast."""
    from engine import queries as qmod

    p = plan_of(qmod.Q["segment_clips_1s"](spark, SF))
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p
    assert p.count("MapInArrow") == 1, p.count("MapInArrow")
    assert "partial_" in p  # per-(clip, seg) partials collapse map-side
    for line in p.splitlines():
        if "Exchange" in line and "reuse" not in line.lower():
            assert "bytes" not in line, line


def test_key_pass_one_clip_id_shuffle_no_antijoin(spark):
    """Unique(clip_id), RefIntegrity(clip_id -> transcripts) and transcript
    equality share ONE co-grouped key pass: the persisted plan behind their
    violation rows holds exactly one hash exchange on clip_id and no
    anti-join."""
    from engine import checks, synth
    from engine.suite import audio_clip_suite, with_payload_checks

    clips = synth.gen_clips(spark, 200, partitions=2)
    transcripts = synth.gen_transcripts(spark, 200, partitions=2)
    res = checks.run_suite(clips, with_payload_checks(audio_clip_suite()), ["clip_id"],
                           refs={"transcripts": transcripts}, n_buckets=8,
                           stat_columns=[])
    for name in ("clip_id_unique", "transcript_ref_integrity"):
        p = plan_of(res.violations[name])
        shuffles = [l for l in p.splitlines()
                    if "Exchange hashpartitioning(clip_id" in l]
        assert len(shuffles) == 1, p
        assert "LeftAnti" not in p, p
    res.close()


def test_ri_on_uncovered_key_keeps_broadcast_antijoin(spark):
    """lineitem_suite's l_partkey -> part matches no Unique: it keeps the
    broadcast anti-join against the distinct ref keys."""
    from engine import checks, queries as qmod

    li = spark.read.parquet(f"{SF}/lineitem.parquet")
    part = spark.read.parquet(f"{SF}/part.parquet")
    res = checks.run_suite(li, qmod.lineitem_suite(), key_cols=["l_orderkey"],
                           refs={"part": part}, n_buckets=8, stat_columns=[])
    p = plan_of(res.violations["l_partkey_ref_part"])
    assert "BroadcastHashJoin" in p and "LeftAnti" in p, p
    res.close()


def _queries_in_group(spark, group: str, fn) -> tuple[list[int], list[str]]:
    """Run ``fn`` under a job group; return the group's job ids and the
    physical plan of every SQL query that ran one of them."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc._jsc.clearJobGroup()
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    jobs = list(sc.statusTracker().getJobIdsForGroup(group))
    # nothing else runs meanwhile, so the group's queries are the latest ones
    store = spark._jsparkSession.sharedState().statusStore()
    n = store.executionsCount()
    execs = store.executionsList(max(n - 20, 0), 20)
    plans = [execs.apply(i).physicalPlanDescription() for i in range(execs.size())
             if any(execs.apply(i).jobs().contains(j) for j in jobs)]
    return jobs, plans


def test_drift_is_one_jvm_query_per_table(spark):
    """drift_check counts the current table in ONE query with no Python
    stage; fit_baseline reads the baseline in two (percentiles, then the
    same counting query). Under AQE a query with one shuffle runs as two
    jobs, its map stage and its result stage. The input is built without
    Python, so any Python node in the plans is drift's own."""
    from pyspark.sql import functions as F

    from engine import drift

    df = spark.range(0, 5_000, 1, 4).select(
        (F.col("id") * 7919 % 1_000).cast("int").alias("dur_ms"),
        F.when(F.col("id") % 3 == 0, 8000).otherwise(16000).alias("sr_hz"),
        F.when(F.col("id") % 5 == 0, "flac").otherwise("pcm_s16le").alias("codec"),
    )
    fits = []
    jobs, plans = _queries_in_group(spark, "drift-fit", lambda: fits.append(
        drift.fit_baseline(df, ["dur_ms", "sr_hz"], ["codec"])))
    assert (len(jobs), len(plans)) == (4, 2), (jobs, plans)
    jobs, plans = _queries_in_group(spark, "drift-check",
                                    lambda: drift.drift_check(df, fits[0]))
    assert (len(jobs), len(plans)) == (2, 1), (jobs, plans)
    for node in ("MapInPandas", "ArrowEvalPython", "BatchEvalPython", "PythonUDF"):
        assert node not in plans[0], plans[0]


def _count_nodes(plan, name: str) -> int:
    """Nodes called ``name`` in a physical plan tree, walking AQE's current
    plan; the cached plan behind an InMemoryTableScan is not walked."""
    if plan.nodeName() == "AdaptiveSparkPlan":
        plan = plan.executedPlan()
    children = plan.children()
    return (plan.nodeName() == name) + sum(
        _count_nodes(children.apply(i), name) for i in range(children.size()))


def test_suite_compile_round_trips_and_one_read_per_cached_source(spark):
    """Compiling the payload suite starts no Spark job and stays within a
    budget of py4j call commands (engine-internal expressions cross as SQL
    text, not Column by Column); ``all_violations`` reads the persisted
    violating keys once and the persisted payload rows once."""
    from engine import checks, synth
    from engine.suite import audio_clip_suite, with_payload_checks

    clips = synth.gen_clips(spark, 200, partitions=2)
    transcripts = synth.gen_transcripts(spark, 200, partitions=2)
    client = spark.sparkContext._gateway._gateway_client
    send, calls, out = client.send_command, [], []

    def counting_send(command, *args, **kwargs):
        if command.startswith("c\n"):  # py4j's call command
            calls.append(command)
        return send(command, *args, **kwargs)

    def compile_suite():
        client.send_command = counting_send
        try:
            out.append(checks.run_suite(
                clips, with_payload_checks(audio_clip_suite()), ["clip_id"],
                refs={"transcripts": transcripts}, n_buckets=8, stat_columns=[]))
        finally:
            client.send_command = send

    jobs, _ = _queries_in_group(spark, "suite-compile", compile_suite)
    assert jobs == []
    assert len(calls) <= 800, len(calls)
    with out[0] as res:
        plan = res.all_violations._jdf.queryExecution().executedPlan()
        assert _count_nodes(plan, "InMemoryTableScan") == 2, plan.toString()
