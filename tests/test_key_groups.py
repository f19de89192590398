"""The co-grouped key pass (``checks.key_groups``): Unique, RefIntegrity and
transcript equality over one key, checked against a pure-Python oracle of
their semantics on a table built to hit every null / duplicate edge case;
plus the construction and ref-name guards of the suite."""

from __future__ import annotations

from collections import Counter

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from engine import audio, checks
from engine.suite import (
    ConstraintSuite,
    PayloadCheck,
    RefIntegrity,
    Unique,
    audio_clip_suite,
)

# (clip_id, transcript): bytes are null, so the payload pass decodes nothing
FACT = [
    (None, "a"), (None, "a"),          # null key: scanned, never Unique / RI
    ("k1", "a"), ("k1", "a"),          # duplicate, gold agrees
    ("k2", "b"),                       # two equal gold rows
    ("k3", None),                      # null fact transcript
    ("k4", "c"), ("k4", "d"),          # duplicate, fact transcripts differ
    ("k5", "e"),                       # two differing gold rows
    ("k6", "f"),                       # null gold transcript
    ("k7", "g"), ("k7", "g"), ("k7", "g"),  # dangling AND duplicated
    ("k9", "h"),                       # clean
]
GOLD = [
    ("k1", "a"), ("k2", "b"), ("k2", "b"), ("k3", "x"), ("k4", "c"),
    ("k5", "e"), ("k5", "z"), ("k6", None), ("k9", "h"),
    (None, "a"),                       # null ref key satisfies nothing
    ("k8", "q"),                       # ref-only key: ignored
]


def _oracle(fact, gold):
    """Per-key semantics of the separate Unique groupBy, RI anti-join and
    transcript fact x gold join: (unique rows {key: n}, dangling fact-row
    keys, transcript failures per fact row)."""
    n = Counter(k for k, _ in fact if k is not None)
    gold_keys = {k for k, _ in gold if k is not None}
    unique = {k: c for k, c in n.items() if c > 1}
    dangling = Counter(k for k, _ in fact if k is not None and k not in gold_keys)

    def t_ok(k):
        if k is None or k not in gold_keys:
            return False
        pairs = [(t, g) for fk, t in fact if fk == k for gk, g in gold if gk == k]
        return all(t is not None and g is not None and t == g for t, g in pairs)

    failed = Counter(k for k, _ in fact if not t_ok(k))
    return unique, dangling, failed


@pytest.fixture(scope="module")
def tables(spark):
    clips = spark.createDataFrame(
        [(k, None, 16000, 1000, "pcm_s16le", t) for k, t in FACT],
        "clip_id string, bytes binary, sr_hz int, dur_ms int, codec string, "
        "transcript string",
    )
    gold = spark.createDataFrame(GOLD, "clip_id string, transcript_gold string")
    return clips, gold


def _suite():
    return ConstraintSuite([
        Unique("u", columns=("clip_id",)),
        RefIntegrity("ri", columns=("clip_id",), ref_name="gold", ref_columns=("clip_id",)),
        PayloadCheck("te", flag="transcript_ok", ref_name="gold"),
    ])


@pytest.mark.parametrize("n_buckets", [1, 4])
def test_key_pass_matches_oracle(spark, tables, n_buckets):
    clips, gold = tables
    unique, dangling, failed = _oracle(FACT, GOLD)
    bucket_of = {
        r["clip_id"]: r["b"]
        for r in clips.select(
            "clip_id", checks.bucket_expr(["clip_id"], n_buckets).alias("b")
        ).collect()
    }
    with checks.run_suite(clips, _suite(), ["clip_id"], refs={"gold": gold},
                          n_buckets=n_buckets, stat_columns=[]) as res:
        verdicts = {
            r["constraint"]: (r["violation_count"], r["rows_scanned"])
            for r in res.verdicts.collect()
        }
        assert verdicts == {
            "u": (sum(c - 1 for c in unique.values()), len(FACT)),
            "ri": (sum(dangling.values()), len(FACT)),
            "te": (sum(failed.values()), len(FACT)),
        }
        # Unique: one row per duplicated key, offending value = its count
        assert sorted(
            (r["clip_id"], r["offending_value"])
            for r in res.violations["u"].collect()
        ) == sorted((k, str(c)) for k, c in unique.items())
        # RI: one row per dangling FACT row
        assert Counter(
            r["clip_id"] for r in res.violations["ri"].collect()
        ) == dangling
        assert Counter(
            r["clip_id"] for r in res.violations["te"].collect()
        ) == failed
        # every scanned bucket has a row per constraint; counts land in the
        # violating key's bucket
        rows = Counter(bucket_of[k] for k, _ in FACT)
        want = {}
        for name, per_key in (
            ("u", {k: c - 1 for k, c in unique.items()}), ("ri", dangling), ("te", failed),
        ):
            for b, n in rows.items():
                want[(b, name)] = (0, n)
            for k, v in per_key.items():
                b = bucket_of[k]
                want[(b, name)] = (want[(b, name)][0] + v, rows[b])
        got = {
            (r["bucket_id"], r["constraint"]): (r["violation_count"], r["rows_scanned"])
            for r in res.partition_verdicts.collect()
        }
        assert got == want
        assert res.all_violations.count() == (
            len(unique) + sum(dangling.values()) + sum(failed.values())
        )
        _assert_union_of_constraint_rows(res, _suite().names(), T.StructType([
            T.StructField("clip_id", T.StringType()),
            T.StructField("constraint", T.StringType(), False),
            T.StructField("offending_value", T.StringType()),
            T.StructField("bucket_id", T.IntegerType()),
        ]))


def _assert_union_of_constraint_rows(res, names, schema):
    """``all_violations`` is, as a multiset of rows, the union of
    ``violations[name]`` over every constraint, with ``schema`` (columns a
    constraint's rows lack are null)."""
    assert res.all_violations.schema == schema
    cols = res.all_violations.columns

    def rows(df):
        return Counter(tuple(r.asDict().get(c) for c in cols) for r in df.collect())

    per_constraint = Counter()
    for name in names:
        per_constraint.update(rows(res.violations[name]))
    assert rows(res.all_violations) == per_constraint


def test_lineitem_all_violations_is_union_of_constraint_rows(spark, sf01_dir):
    """Unique rows carry (l_orderkey, l_linenumber), the row-local and
    anti-join RefIntegrity rows only the key column l_orderkey."""
    from engine import queries

    li = spark.read.parquet(f"{sf01_dir}/lineitem.parquet")
    part = spark.read.parquet(f"{sf01_dir}/part.parquet")
    suite = queries.lineitem_suite()
    with checks.run_suite(li, suite, key_cols=["l_orderkey"], refs={"part": part},
                          n_buckets=8, stat_columns=[]) as res:
        _assert_union_of_constraint_rows(res, suite.names(), T.StructType([
            T.StructField("l_orderkey", T.LongType()),
            T.StructField("constraint", T.StringType()),
            T.StructField("offending_value", T.StringType()),
            T.StructField("bucket_id", T.IntegerType()),
            T.StructField("l_linenumber", T.IntegerType()),
        ]))


def test_audio_invariants_transcript_ok_matches_oracle(tables):
    clips, gold = tables
    _, _, failed = _oracle(FACT, GOLD)
    rows = audio.audio_invariants(clips, gold).collect()
    assert len(rows) == len(FACT)  # duplicate gold rows never fan out
    assert Counter(r["clip_id"] for r in rows if not r["transcript_ok"]) == failed


def test_key_groups_ignores_ref_only_and_null_keys(tables):
    clips, gold = tables
    got = {
        r["clip_id"]: (r["n_fact"], r["has_ref_0"], r["transcript_ok"])
        for r in checks.key_groups(clips, ["clip_id"], [gold], gold=True).collect()
    }
    assert set(got) == {k for k, _ in FACT if k is not None}  # no k8, no null
    assert got["k7"] == (3, False, False)
    assert got["k2"] == (1, True, True)
    assert got["k5"] == (1, True, False)


@pytest.mark.parametrize("make", [
    lambda: Unique("u", columns=()),
    lambda: RefIntegrity("r", columns=(), ref_name="t", ref_columns=()),
    lambda: RefIntegrity("r", columns=("a", "b"), ref_name="t", ref_columns=("a",)),
])
def test_bad_key_tuples_rejected_at_construction(make):
    with pytest.raises(ValueError):
        make()


def test_missing_ref_named_before_planning(tables):
    """A RefIntegrity or PayloadCheck naming a table absent from ``refs``
    is a ValueError naming it, not a KeyError from deep inside planning."""
    from engine.runner import validate

    clips, _ = tables
    with pytest.raises(ValueError, match="transcripts"):
        checks.run_suite(clips, audio_clip_suite(), ["clip_id"], stat_columns=[])
    with pytest.raises(ValueError, match="transcripts"):
        validate(clips)
    payload_only = ConstraintSuite([PayloadCheck("te", flag="transcript_ok", ref_name="gold")])
    with pytest.raises(ValueError, match="gold"):
        checks.run_suite(clips, payload_only, ["clip_id"], refs={}, stat_columns=[])


def test_transcript_ok_for_null_key_is_false(tables):
    clips, gold = tables
    nulls = audio.audio_invariants(clips, gold).filter(F.col("clip_id").isNull())
    assert [r["transcript_ok"] for r in nulls.collect()] == [False, False]
