"""The four benchmark workloads.

Each workload is a closed loop with one client: a pass is a fixed list of
actions, each a call into one engine module whose result the client waits
for and checks. ``run_pass(act)`` takes the function that times (and, in the
traced run, spans) each action; ``probe(tr)`` makes the extra per-layer calls
of the traced run, outside any timed pass.
"""

from __future__ import annotations

import math
import os
import shutil
import sys
import time
from concurrent.futures import ThreadPoolExecutor

from pyspark.sql import functions as F

from engine import audio, checks, drift, sketch, stats
from engine.checkpoint import CheckpointedRunner
from engine.runner import validate
from engine.suite import ConstraintSuite, audio_clip_suite

import fixtures

#: payload clips in the audio fixture (shared by audio_suite and resume_shards)
AUDIO_CLIPS = 2_500
#: rows in the metadata table; its drift baseline is a quarter of that
META_ROWS = 200_000
#: lineitem rows of the query corpus (the other tables scale with it)
CORPUS_LINEITEM = 20_000

#: untimed passes before timing: the first compiles the generated code and
#: starts the Python workers, the second runs while the JIT still recompiles
#: the hottest paths (measured: pass time keeps falling for several passes)
WARM_PASSES = 2

KEY = ["clip_id"]
STAT_COLUMNS = ["clip_id", "sr_hz", "dur_ms", "codec", "transcript"]
DRIFT_NUMERIC, DRIFT_CATEGORICAL = ["sr_hz", "dur_ms"], ["codec"]


class Ctx:
    """What every workload needs: the session, the fixture cache, the seed,
    a scratch directory inside the checkout, the core count and what the
    workload's ``prepare`` returned."""

    def __init__(self, spark, cache, seed: int, work: str, cores: int, prepared=None):
        self.spark, self.cache, self.seed = spark, cache, seed
        self.work, self.cores, self.prepared = work, cores, prepared


def _probe_act(tr, rec: dict):
    """Action timer for a pass made only by the traced run (see ``probe``):
    spans tagged ``pass_no="probe"``, latencies recorded in ``rec``."""

    def act(name: str, fn):
        with tr.span(name, pass_no="probe") as s:
            out = fn()
        rec["actions"][name] = time.perf_counter() - s["start"]
        return out

    return act


def _verdicts(df) -> dict[str, tuple[int, int]]:
    return {r["constraint"]: (r["violation_count"], r["rows_scanned"]) for r in df.collect()}


def _verdicts_ok(got: dict, expected: dict[str, int], rows: int) -> bool:
    want = {c: (n, rows) for c, n in expected.items()}
    if got != want:
        print(f"verdict mismatch: got {got} want {want}", file=sys.stderr)
        return False
    return True


class _SuiteWorkload:
    """Shared by the two read-only suites: the ``validate`` pass plus the
    check-layer decomposition of the traced run."""

    check_audio = False

    def _load(self, ctx: Ctx, kind: str, size: int) -> None:
        self.ctx = ctx
        path, info = ctx.cache.get(kind, ctx.seed, size)
        self.clips = ctx.spark.read.parquet(os.path.join(path, "clips.parquet"))
        self.transcripts = ctx.spark.read.parquet(os.path.join(path, "transcripts.parquet"))
        self.fixture_dir, self.info = path, info
        self.rows = info["rows"]
        self.expected = fixtures.expected_verdicts(info["lo"], info["hi"], self.check_audio)

    def _validate_actions(self, act) -> bool:
        res = act("runner.validate", lambda: validate(
            self.clips, self.transcripts, check_audio=self.check_audio))
        got = act("runner.verdicts", lambda: _verdicts(res.verdicts))
        n_viol = act("runner.all_violations", res.all_violations.count)
        st = act("runner.stats", res.stats.collect)
        counts = {r["value"] for r in st if r["metric"] == "count"}
        ok = _verdicts_ok(got, self.expected, self.rows)
        ok &= n_viol == sum(self.expected.values())
        ok &= counts == {float(self.rows)}
        return ok

    def probe(self, tr) -> None:
        """``validate`` split into the layer calls it makes, called directly
        with validate's own arguments (the audio pass folds the bytes null
        check, so the fused suite drops it when the audio pass runs)."""
        suite = audio_clip_suite()
        if self.check_audio:
            suite = ConstraintSuite([c for c in suite.constraints if c.name != "bytes_not_null"])
        with tr.span("checks.run_suite"):
            res = checks.run_suite(self.clips, suite, key_cols=KEY,
                                   refs={"transcripts": self.transcripts},
                                   n_buckets=32, stat_columns=STAT_COLUMNS)
            with tr.span("checks.fused_scan"):
                res.bucket_stats.count()
            with tr.span("checks.unique"):
                res.violations["clip_id_unique"].count()
            with tr.span("checks.ri"):
                res.violations["transcript_ref_integrity"].count()
            res.verdicts.collect()
        self.ctx.spark.catalog.clearCache()


class AudioSuite(_SuiteWorkload):
    """Full suite with the Arrow-UDF decode pass over real payloads."""

    name = "audio_suite"
    check_audio = True
    PASS_S = 5.0  # nominal warm pass time on 4 cores (sets the pass count)

    @staticmethod
    def prepare(cache, seed: int) -> None:
        """Spark-free set-up, run while the JVM boots: the fixtures."""
        cache.get("audio", seed, AUDIO_CLIPS)

    def __init__(self, ctx: Ctx):
        self._load(ctx, "audio", AUDIO_CLIPS)

    def warm(self, act) -> None:
        for _ in range(WARM_PASSES):
            self.run_pass(act)

    def run_pass(self, act) -> dict:
        ok = self._validate_actions(act)
        self.ctx.spark.catalog.clearCache()
        return {"ok": ok}

    def probe(self, tr) -> None:
        """Also traces one ``resume_shards`` pass on the same fixture: that
        workload is not in the scheduled set (see README.md)."""
        super().probe(tr)
        with tr.span("audio.invariants"):
            inv = audio.audio_invariants(self.clips, self.transcripts)
            inv.agg(F.count(F.lit(1)), F.sum(F.col("pcm_ok").cast("int"))).collect()
        resume = ResumeShards(self.ctx)
        resume.warm(None)
        rec = {"actions": {}}
        rec.update(resume.run_pass(_probe_act(tr, rec)))
        if not rec["ok"]:
            raise RuntimeError("resumed verdicts differ from the ground truth")
        self.resume_passes = [rec]
        resume.probe(tr)


class MetaSuite(_SuiteWorkload):
    """Metadata-only suite over many small-payload rows, plus column stats
    and a drift check against a baseline fit on another seed."""

    name = "meta_suite"
    PASS_S = 6.0

    @staticmethod
    def prepare(cache, seed: int) -> None:
        cache.get("meta", seed, META_ROWS)
        cache.get("meta", seed + 1, META_ROWS // 4)

    def __init__(self, ctx: Ctx):
        self._load(ctx, "meta", META_ROWS)
        bpath, _ = ctx.cache.get("meta", ctx.seed + 1, META_ROWS // 4)
        self._base = ctx.spark.read.parquet(os.path.join(bpath, "clips.parquet"))
        self.nulls = fixtures.expected_nulls(self.info["lo"], self.info["hi"])
        self.baseline = None

    def warm(self, act) -> None:
        self.baseline = act("drift.fit_baseline", lambda: drift.fit_baseline(
            self._base, DRIFT_NUMERIC, DRIFT_CATEGORICAL))
        for _ in range(WARM_PASSES):
            self.run_pass(act)

    def run_pass(self, act) -> dict:
        ok = self._validate_actions(act)
        cs = act("stats.column_stats", lambda: stats.column_stats(
            self.clips, ["sr_hz", "dur_ms", "codec", "transcript"]).collect())
        rep = act("drift.drift_check", lambda: drift.drift_check(self.clips, self.baseline))
        self.ctx.spark.catalog.clearCache()
        got = {(r["column_name"], r["metric"]): r["value"] for r in cs}
        want = {
            ("dur_ms", "count"): self.rows, ("dur_ms", "min"): self.info["dur_min"],
            ("dur_ms", "max"): self.info["dur_max"], ("sr_hz", "null_count"): 0,
            ("codec", "null_count"): self.nulls["codec"],
            ("transcript", "null_count"): self.nulls["transcript"],
        }
        ok &= all(got.get(k) == v for k, v in want.items())
        ok &= len(rep) == 5 and bool(rep["passed"].all())
        if not ok:
            print(f"meta mismatch: stats {got} drift {rep.to_dict('records')}", file=sys.stderr)
        return {"ok": ok}

    def probe(self, tr) -> None:
        """Also traces the query corpus: ``corpus_queries`` is not in the
        scheduled set (see README.md)."""
        super().probe(tr)
        with tr.span("sketch.build_digests"):
            sketch.build_digests(self.clips, DRIFT_NUMERIC)
        ctx = self.ctx
        corpus = CorpusQueries(Ctx(ctx.spark, ctx.cache, ctx.seed, ctx.work, ctx.cores,
                                   CorpusQueries.prepare(ctx.cache, ctx.seed)))
        corpus.warm(None)
        corpus.run_pass(_probe_act(tr, {"actions": {}}))
        if corpus.final_check():
            raise RuntimeError("corpus query results differ from their oracle")
        corpus.probe(tr)


class ResumeShards:
    """Checkpointed shard-by-shard run on the audio fixture, crashed half
    way and resumed to final verdicts: many small jobs plus the writes
    (partitioned materialization, one snapshot commit per shard)."""

    name = "resume_shards"
    PASS_S = 5.0
    N_SHARDS = 2
    FAIL_AFTER = 1
    STAT_COLUMNS = ["sr_hz", "dur_ms", "codec"]
    prepare = AudioSuite.prepare

    def __init__(self, ctx: Ctx):
        self.ctx = ctx
        path, info = ctx.cache.get("audio", ctx.seed, AUDIO_CLIPS)
        self.clips = ctx.spark.read.parquet(os.path.join(path, "clips.parquet"))
        self.transcripts = ctx.spark.read.parquet(os.path.join(path, "transcripts.parquet"))
        self.rows = info["rows"]
        self.expected = fixtures.expected_verdicts(info["lo"], info["hi"], audio=False)
        self.suite = audio_clip_suite()
        self.k = 0

    def warm(self, act) -> None:
        """The crashed half of one run: the resumed half executes the same
        per-shard code."""
        base = os.path.join(self.ctx.work, "resume-warm")
        runner = CheckpointedRunner(self.ctx.spark, os.path.join(base, "ckpt"))
        try:
            runner.run(self.clips, self.suite, KEY, refs={"transcripts": self.transcripts},
                       run_id="warm", n_shards=self.N_SHARDS, fail_after=self.FAIL_AFTER,
                       shard_storage_path=os.path.join(base, "shards"),
                       stat_columns=self.STAT_COLUMNS)
        except RuntimeError:
            pass
        self.ctx.spark.catalog.clearCache()
        shutil.rmtree(base, ignore_errors=True)

    def run_pass(self, act) -> dict:
        self.k += 1
        base = os.path.join(self.ctx.work, f"resume-{self.k}")
        storage = os.path.join(base, "shards")
        runner = CheckpointedRunner(self.ctx.spark, os.path.join(base, "ckpt"))
        run_id = f"pass{self.k}"
        kw = dict(refs={"transcripts": self.transcripts}, run_id=run_id,
                  n_shards=self.N_SHARDS, shard_storage_path=storage,
                  stat_columns=self.STAT_COLUMNS)

        def crash() -> bool:
            try:
                runner.run(self.clips, self.suite, KEY, fail_after=self.FAIL_AFTER, **kw)
            except RuntimeError as e:
                return "simulated crash" in str(e)
            return False

        t_crash = time.time()
        crashed = act("checkpoint.run_crash", crash)
        materialize_s = os.path.getmtime(os.path.join(storage, "_SUCCESS")) - t_crash
        done = act("checkpoint.done_shards", lambda: runner.done_shards(run_id))
        before = len(runner.table.snapshots())
        t0 = time.perf_counter()
        got = act("checkpoint.run_resume", lambda: _verdicts(
            runner.run(self.clips, self.suite, KEY, **kw)))
        resume_s = time.perf_counter() - t0
        snaps = runner.table.snapshots()
        at = act("checkpoint.verdicts_at", lambda: _verdicts(
            runner.verdicts_at(run_id, snaps[-1]["snapshot_id"], suite=self.suite)))
        ok = crashed and done == set(range(self.FAIL_AFTER))
        ok &= _verdicts_ok(got, self.expected, self.rows) and at == got
        rec = {
            "ok": ok, "resume_s": resume_s, "materialize_s": materialize_s,
            "needed": self.N_SHARDS - len(done), "processed": len(snaps) - before,
            "manifests": len(snaps) + len(runner.stats_table.snapshots()),
        }
        self.ctx.spark.catalog.clearCache()
        shutil.rmtree(base, ignore_errors=True)
        return rec

    def probe(self, tr) -> None:
        """Snapshot-table calls on a small verdict-sized frame."""
        from engine.snapshots import SnapshotTable

        spark = self.ctx.spark
        table = SnapshotTable(spark, os.path.join(self.ctx.work, "snapshot-probe"))
        df = spark.createDataFrame([(i, f"c{i}", i * 2) for i in range(8)],
                                   "shard_id int, constraint string, violation_count long")
        for _ in range(5):
            with tr.span("snapshots.append"):
                table.append(df.coalesce(1))
        for _ in range(3):
            with tr.span("snapshots.read"):
                table.read().count()
            with tr.span("snapshots.time_travel"):
                table.time_travel(3).count()


#: the bench.py query list, in its order
QUERIES = [
    "suite_verdicts_lineitem", "q1_pricing_summary", "stats_lineitem",
    "quantile_threshold_events", "rolling_zscore_events", "window_lag_delta",
    "topk_users_by_value", "minhash_lsh_pairs", "simhash_documents",
    "ann_cosine_topk", "winnow_fingerprints_documents", "ewma_residual_events",
    "train_split_stats", "embedding_near_dup_pairs", "kde_threshold_pipeline",
]

#: input tables each query reads (for rows_per_s)
QUERY_TABLES = {
    "suite_verdicts_lineitem": ("lineitem", "part"),
    "q1_pricing_summary": ("lineitem",), "stats_lineitem": ("lineitem",),
    "minhash_lsh_pairs": ("documents",), "simhash_documents": ("documents",),
    "winnow_fingerprints_documents": ("documents",),
    "ann_cosine_topk": ("embeddings",), "embedding_near_dup_pairs": ("embeddings",),
}


def _norm(v):
    """Cell as compared against the oracle: floats to 9 significant digits,
    -0.0 equal to 0.0."""
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else f"{v + 0.0:.9g}"
    if type(v).__name__ == "Decimal":
        return f"{float(v):.9g}"
    return str(v)


def _rows_key(cols, rows) -> list[tuple]:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(tuple(_norm(r[i]) for i in order) for r in rows)


class CorpusQueries:
    """The 15 bench.py queries over a small seeded corpus, one after the
    other: per-query fixed costs (planning, scheduling, UDF start-up)."""

    name = "corpus_queries"
    PASS_S = 11.0

    @staticmethod
    def prepare(cache, seed: int) -> dict[str, tuple[list[str], list[tuple]]]:
        """The corpus, and the (columns, rows) of every query's DuckDB oracle
        over it."""
        import duckdb

        from engine import queries

        path, _ = cache.get("corpus", seed, CORPUS_LINEITEM)
        sql = {n: queries.ORACLE.get(n) for n in QUERIES}
        sql["simhash_documents"] = queries._simhash_oracle_sql()
        out = {}
        with duckdb.connect() as con:
            con.sql("SET threads = 1")
            for t in ("lineitem", "part", "events", "documents", "embeddings"):
                con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{path}/{t}.parquet'")
            for n in QUERIES:
                rel = con.sql(sql[n])
                out[n] = (rel.columns, rel.fetchall())
        return out

    def __init__(self, ctx: Ctx):
        from engine import queries

        self.ctx = ctx
        self.dir, info = ctx.cache.get("corpus", ctx.seed, CORPUS_LINEITEM)
        self.fns = {n: queries.Q[n] if n in queries.Q else getattr(queries, n) for n in QUERIES}
        self.rows = sum(info["rows"][t] for q in QUERIES for t in QUERY_TABLES.get(q, ("events",)))
        self.counts: list[dict[str, int]] = []

    def warm(self, act) -> None:
        """First call of every query, one thread per core: compiles the
        plans' generated code and starts the Python workers. The collected
        rows are kept for the oracle check after the timed passes."""

        def first(n):
            sdf = self.fns[n](self.ctx.spark, self.dir)
            return sdf.columns, [tuple(r) for r in sdf.collect()]

        with ThreadPoolExecutor(self.ctx.cores) as pool:
            futures = {n: pool.submit(first, n) for n in QUERIES}
            self.first = {n: f.result() for n, f in futures.items()}

    def run_pass(self, act) -> dict:
        counts = {n: act(f"queries.{n}", lambda n=n: self.fns[n](self.ctx.spark, self.dir).count())
                  for n in QUERIES}
        self.counts.append(counts)
        return {"ok": True}

    def final_check(self) -> set[int]:
        """Each query's rows (from its first call) against its DuckDB oracle,
        once per run; every timed pass must also have returned the oracle's
        row count. Returns the indices of the passes whose results were
        wrong."""
        bad = set()
        for n in QUERIES:
            cols, srows = self.first[n]
            dcols, drows = self.ctx.prepared[n]
            got, want = _rows_key(cols, srows), _rows_key(dcols, drows)
            if sorted(cols) != sorted(dcols) or got != want:
                diff = next((p for p in zip(got, want) if p[0] != p[1]), None)
                print(f"oracle mismatch: {n}: {len(got)} vs {len(want)} rows, "
                      f"first difference {diff}", file=sys.stderr)
                bad.add(n)
        want_counts = {n: len(self.ctx.prepared[n][1]) for n in QUERIES}
        return {k for k, c in enumerate(self.counts) if bad or c != want_counts}

    def probe(self, tr) -> None:
        """Candidate pairs from MinHash LSH and those that verify at
        Jaccard >= 0.5 (the dedup layer's useful-work ratio)."""
        from engine import dedup

        docs = self.ctx.spark.read.parquet(f"{self.dir}/documents.parquet")
        with tr.span("dedup.lsh_candidates") as s:
            sigs = dedup.minhash_signatures(docs, "text", "doc_id", n_bands=8, k=3)
            pairs = dedup.lsh_candidate_pairs(sigs, "doc_id").persist()
            s["count"] = pairs.count()
        with tr.span("dedup.verify") as s:
            s["count"] = dedup.ngram_jaccard_pairs(
                docs, pairs, "text", "doc_id", k=3, threshold=0.5).count()
        pairs.unpersist()


WORKLOADS = {w.name: w for w in (AudioSuite, MetaSuite, ResumeShards, CorpusQueries)}
