"""Per-layer metrics of the traced run.

``LAYERS`` names every per-layer metric with its unit, its direction, the
end-to-end metric it should move and the workload it should move it on.
A traced run reports all of them; a layer the workload never calls reads 0.
"""

from __future__ import annotations

import statistics
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from engine import audio, flac, oggcrc
from tracing import sum_spark
from workloads import QUERIES, ResumeShards

ALL = "all"
QUERY_LAYERS = [
    (f"queries.{q}_s", "s", "lower", "query_p50_s", "corpus_queries")
    for q in QUERIES
]

#: (metric, unit, better, moves, workload)
LAYERS = [
    ("session.start_s", "s", "lower", "setup_s", ALL),
    ("synth.gen_s", "s", "lower", "setup_s", ALL),
    ("checks.run_suite_s", "s", "lower", "rows_per_s", "meta_suite"),
    ("checks.fused_scan_s", "s", "lower", "rows_per_s", "meta_suite"),
    ("checks.unique_s", "s", "lower", "rows_per_s", "meta_suite"),
    ("checks.ri_s", "s", "lower", "rows_per_s", "meta_suite"),
    ("checks.jobs", "count", "lower", "rows_per_s", "meta_suite"),
    ("checks.shuffle_bytes", "bytes", "lower", "rows_per_s", "meta_suite"),
    ("stats.column_stats_s", "s", "lower", "pass_s", "meta_suite"),
    ("sketch.build_digests_s", "s", "lower", "pass_s", "meta_suite"),
    ("drift.fit_baseline_s", "s", "lower", "setup_s", "meta_suite"),
    ("drift.drift_check_s", "s", "lower", "pass_s", "meta_suite"),
    ("audio.invariants_s", "s", "lower", "rows_per_s", "audio_suite"),
    *[(f"audio.us_per_clip.{k}", "us", "lower", "rows_per_s", "audio_suite")
      for k in ("wav", "flac", "ogg_flac", "opus", "mp3")],
    ("flac.us_per_clip", "us", "lower", "rows_per_s", "audio_suite"),
    ("flac.crc16_mb_per_s", "MB/s", "higher", "rows_per_s", "audio_suite"),
    ("oggcrc.crc32_mb_per_s", "MB/s", "higher", "rows_per_s", "audio_suite"),
    ("fastrng.us_per_clip", "us", "lower", "rows_per_s", "audio_suite"),
    ("runner.assembly_s", "s", "lower", "pass_s", "audio_suite"),
    ("checkpoint.materialize_s", "s", "lower", "pass_s", "resume_shards"),
    ("checkpoint.shard_s", "s", "lower", "resume_s", "resume_shards"),
    ("checkpoint.done_shards_s", "s", "lower", "resume_s", "resume_shards"),
    ("checkpoint.resume_useful_ratio", "ratio", "higher", "resume_s", "resume_shards"),
    ("snapshots.append_s", "s", "lower", "resume_s", "resume_shards"),
    ("snapshots.read_s", "s", "lower", "resume_s", "resume_shards"),
    ("snapshots.time_travel_s", "s", "lower", "resume_s", "resume_shards"),
    ("snapshots.manifests", "count", "lower", "resume_s", "resume_shards"),
    *QUERY_LAYERS,
    ("dedup.lsh_candidates", "count", "lower", "query_p50_s", "corpus_queries"),
    ("dedup.verified_pairs", "count", "higher", "query_p50_s", "corpus_queries"),
    ("dedup.candidate_precision", "ratio", "higher", "query_p50_s", "corpus_queries"),
    ("spark.core_busy_share", "ratio", "higher", "rows_per_s", ALL),
    ("spark.gc_share", "ratio", "lower", "pass_s", ALL),
    ("spark.spill_bytes", "bytes", "lower", "pass_s", ALL),
    ("spark.input_bytes", "bytes", "lower", "pass_s", ALL),
    ("spark.tasks", "count", "lower", "pass_s", ALL),
    ("trace.overhead_s", "s", "lower", "pass_s", ALL),
    ("scaling.local1_pass_s", "s", "lower", "rows_per_s", "audio_suite"),
    ("scaling.speedup", "ratio", "higher", "rows_per_s", "audio_suite"),
]
UNITS = {name: unit for name, unit, *_ in LAYERS}


def _median(xs) -> float:
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0


# ---------------------------------------------------------------------------
# codec layers driven in-process on the fixture's Arrow batches (no Spark)
# ---------------------------------------------------------------------------

def _kind(codec, payload: bytes) -> str | None:
    if codec in (None, "pcm_s16le"):
        return "wav"
    if codec == "flac":
        return "ogg_flac" if payload[:4] == b"OggS" else "flac"
    return codec if codec in ("opus", "mp3") else None


def _best_of(fn, reps: int = 2) -> float:
    best = float("inf")
    for _ in range(reps):
        t0 = time.perf_counter()
        fn()
        best = min(best, time.perf_counter() - t0)
    return best


def _crc_mb_per_s(crc_many, chunks: list) -> float:
    if not chunks:
        return 0.0
    step = max(8, 262144 // max(len(c) for c in chunks))  # audio.invariant_batches' grouping

    def run():
        for i in range(0, len(chunks), step):
            crc_many(chunks[i:i + step])

    return sum(len(c) for c in chunks) / 1e6 / _best_of(run)


def codec_layers(clips_path: str) -> dict[str, float]:
    tbl = pq.read_table(clips_path)
    codecs = tbl.column("codec").to_pylist()
    blobs = tbl.column("bytes").to_pylist()
    kinds = [_kind(c, b) for c, b in zip(codecs, blobs)]
    tbl = tbl.append_column("bucket_id", pa.array(np.zeros(tbl.num_rows, np.int32)))
    cols = ["clip_id", "bucket_id", "bytes", "sr_hz", "dur_ms", "codec"]
    out: dict[str, float] = {}
    expected = audio.FixtureExpected()
    for k in ("wav", "flac", "ogg_flac", "opus", "mp3"):
        idx = [i for i, x in enumerate(kinds) if x == k]
        batch = tbl.take(idx).select(cols).combine_chunks().to_batches()
        secs = _best_of(lambda: list(audio.invariant_batches(batch, expected, audio.SNR_DB_MIN)))
        out[f"audio.us_per_clip.{k}"] = secs / max(len(idx), 1) * 1e6

    flacs = [b for b, k in zip(blobs, kinds) if k in ("flac", "ogg_flac")]

    def decode_all():
        for b in flacs:
            try:
                audio.decode_with_channels(b, "flac")
            except (ValueError, NotImplementedError):
                pass

    out["flac.us_per_clip"] = _best_of(decode_all) / max(len(flacs), 1) * 1e6
    frames, pages = [], []
    for b, k in zip(blobs, kinds):
        try:
            if k == "flac":
                frames += flac.parse(b)[1]
            elif k in ("ogg_flac", "opus"):
                pages += audio.walk_ogg_pages(b)[0]
        except (ValueError, NotImplementedError):
            pass
    out["flac.crc16_mb_per_s"] = _crc_mb_per_s(flac.crc16_many, frames)
    out["oggcrc.crc32_mb_per_s"] = _crc_mb_per_s(oggcrc.crc32_many, pages)
    ids, srs, durs = (tbl.column(c).to_pylist() for c in ("clip_id", "sr_hz", "dur_ms"))
    secs = _best_of(lambda: expected.prepare(ids, np.array(srs), np.array(durs), codecs))
    out["fastrng.us_per_clip"] = secs / len(ids) * 1e6
    return out


# ---------------------------------------------------------------------------
# assembling the per-layer metrics of one traced run
# ---------------------------------------------------------------------------

def per_layer(wl, tr, traced: list[dict], untraced: list[dict], resume_recs: list[dict],
              extra: dict) -> dict[str, float]:
    """``traced``/``untraced``: pass records (``pass_s``, workload fields) of
    the alternating passes; spans of the traced passes are tagged
    ``pass_no``. ``resume_recs``: records of checkpointed passes, if any.
    ``extra``: session/setup figures gathered by run.py."""
    name = wl.name
    # spans of the workload's own traced passes; the corpus passes traced by
    # meta_suite's probe carry pass_no "probe"
    pass_spans = [s for s in tr.spans if isinstance(s.get("pass_no"), int)]
    action_spans = [s for s in tr.spans if s.get("pass_no") is not None]
    v: dict[str, float] = {
        "session.start_s": extra["session_s"],
        "synth.gen_s": extra["gen_s"],
        "trace.overhead_s": (_median(p["pass_s"] for p in traced)
                             - _median(p["pass_s"] for p in untraced)),
    }

    def per_pass(span_name: str) -> float:
        return _median(s["dur_s"] for s in action_spans if s["name"] == span_name)

    for span, metric in (("checks.run_suite", "checks.run_suite_s"),
                         ("checks.fused_scan", "checks.fused_scan_s"),
                         ("checks.unique", "checks.unique_s"),
                         ("checks.ri", "checks.ri_s"),
                         ("sketch.build_digests", "sketch.build_digests_s"),
                         ("drift.fit_baseline", "drift.fit_baseline_s"),
                         ("audio.invariants", "audio.invariants_s")):
        v[metric] = tr.total(span)
    check_spans = [s for s in tr.spans if s["name"].startswith("checks.")]
    if check_spans:
        c = sum_spark(check_spans)
        v["checks.jobs"], v["checks.shuffle_bytes"] = c["jobs"], c["shuffle_write_bytes"]
    v["stats.column_stats_s"] = per_pass("stats.column_stats")
    v["drift.drift_check_s"] = per_pass("drift.drift_check")
    if name in ("audio_suite", "meta_suite"):
        runner_s = _median(
            sum(s["dur_s"] for s in pass_spans
                if s["pass_no"] == k and s["name"].startswith("runner."))
            for k in {s["pass_no"] for s in pass_spans})
        v["runner.assembly_s"] = runner_s - v["checks.run_suite_s"] - v["audio.invariants_s"]
    recs = [p for p in resume_recs if p.get("ok")]
    if recs:
        v["checkpoint.materialize_s"] = _median(p["materialize_s"] for p in recs)
        v["checkpoint.shard_s"] = _median(
            (p["actions"]["checkpoint.run_crash"] + p["actions"]["checkpoint.run_resume"]
             - p["materialize_s"]) / (ResumeShards.FAIL_AFTER + p["processed"]) for p in recs)
        v["checkpoint.done_shards_s"] = per_pass("checkpoint.done_shards")
        v["checkpoint.resume_useful_ratio"] = _median(
            p["needed"] / max(p["processed"], 1) for p in recs)
        v["snapshots.manifests"] = _median(p["manifests"] for p in recs)
        for op in ("append", "read", "time_travel"):
            v[f"snapshots.{op}_s"] = _median(s["dur_s"] for s in tr.by_name(f"snapshots.{op}"))
    if tr.by_name("dedup.lsh_candidates"):
        for q in QUERIES:
            v[f"queries.{q}_s"] = per_pass(f"queries.{q}")
        cand = sum(s["count"] for s in tr.by_name("dedup.lsh_candidates"))
        ver = sum(s["count"] for s in tr.by_name("dedup.verify"))
        v["dedup.lsh_candidates"], v["dedup.verified_pairs"] = cand, ver
        v["dedup.candidate_precision"] = ver / cand if cand else 0.0
    sp = sum_spark(pass_spans)
    wall = sum(s["dur_s"] for s in pass_spans) or 1.0
    n = max(len(traced), 1)
    v["spark.core_busy_share"] = sp["run_ms"] / 1000.0 / (wall * extra["cores"])
    v["spark.gc_share"] = sp["gc_ms"] / sp["run_ms"] if sp["run_ms"] else 0.0
    v["spark.spill_bytes"] = sp["spill_bytes"] / n
    v["spark.input_bytes"] = sp["input_bytes"] / n
    v["spark.tasks"] = sp["tasks"] / n
    v.update(extra.get("layers", {}))
    return {m: float(v.get(m, 0.0)) for m, *_ in LAYERS}

