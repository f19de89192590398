"""Seeded benchmark inputs, their ground truth, and an on-disk cache.

Every table is a pure function of ``(seed, size)`` and the generator code:
the seed picks the clip-id window (payload workloads) or the RNG stream
(metadata and corpus tables), so the same seed always gives byte-identical
parquet files. Generation runs in this process only, never on Spark: the
load generator must not compete with the engine for the cores it measures.

Ground truth is recomputed from ``engine.synth.RULES`` over the id window,
never read back from the engine under test.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from engine import synth

#: lcm of every RULES modulus: windows aligned to it plant the same number
#: of violations for every seed, so seeds vary the payloads, not the shape
ALIGN = 12_000

#: RULES whose plants the decode + SNR invariant must flag
PCM_RULES = (
    "payload_corrupt", "container_header_corrupt", "flac_body_corrupt",
    "container_body_corrupt", "flac_warmup_corrupt",
    "flac_stereo_side_corrupt", "mp3_sideinfo_corrupt",
)

#: fixture directories kept in the cache; older ones are evicted
CACHE_KEEP = 6


def id_window(seed: int, n: int) -> tuple[int, int]:
    lo = ALIGN * (1 + seed % 100_000)
    return lo, lo + n


def _hit(ids: np.ndarray, rule: str) -> np.ndarray:
    mod, off = synth.RULES[rule]
    return ids % mod == off


def _row_ids(lo: int, hi: int) -> np.ndarray:
    """Clip ids of every fact row, in generation order: the window, then one
    extra copy of each planted duplicate (engine.synth.gen_clips' order)."""
    ids = np.arange(lo, hi, dtype=np.int64)
    return np.concatenate([ids, ids[_hit(ids, "clip_id_duplicate")]])


def expected_verdicts(lo: int, hi: int, audio: bool) -> dict[str, int]:
    """Violation count per constraint of ``engine.suite.audio_clip_suite``
    (plus the audio pass when ``audio``), from the planting rules alone."""
    rows = _row_ids(lo, hi)
    n = lambda rule: int(_hit(rows, rule).sum())  # noqa: E731
    v = {
        "clip_id_not_null": 0,
        "bytes_not_null": 0,
        "dur_ms_range": n("dur_ms_zero") + n("dur_ms_huge"),
        "sr_hz_domain": n("sr_hz_out_of_domain"),
        "codec_domain": n("codec_out_of_domain"),
        "clip_id_unique": len(rows) - (hi - lo),
        "transcript_ref_integrity": n("dangling_fk"),
    }
    if audio:
        v["pcm_snr_invariant"] = sum(n(r) for r in PCM_RULES)
        v["container_sr_consistency"] = n("sr_metadata_mismatch")
        v["transcript_equality"] = (
            n("transcript_mismatch") + n("transcript_null") + n("dangling_fk")
        )
    return v


def expected_nulls(lo: int, hi: int) -> dict[str, int]:
    rows = _row_ids(lo, hi)
    return {
        "codec": int(_hit(rows, "codec_null").sum()),
        "transcript": int(_hit(rows, "transcript_null").sum()),
    }


def _clip_ids(ids: np.ndarray) -> pa.Array:
    return pa.array([f"clip_{i:010d}" for i in ids.tolist()], pa.string())


def _write(path: str, table: pa.Table, row_group_size: int) -> None:
    pq.write_table(table, path, row_group_size=row_group_size)


def _transcripts_table(ids: np.ndarray, gold) -> pa.Table:
    return pa.table({"clip_id": _clip_ids(ids), "transcript_gold": gold})


# ---------------------------------------------------------------------------
# payload fixture: real WAV / FLAC / Ogg-FLAC / Opus / MP3 clips
# ---------------------------------------------------------------------------

def build_audio(out: str, seed: int, n: int) -> dict:
    """``clips.parquet`` + ``transcripts.parquet`` for the id window of
    ``seed``, rows built by engine.synth's own per-clip generator."""
    lo, hi = id_window(seed, n)
    pdf = synth._gen_rows(_row_ids(lo, hi))
    clips = pa.table({
        "clip_id": pa.array(pdf["clip_id"], pa.string()),
        "bytes": pa.array(pdf["bytes"], pa.binary()),
        "sr_hz": pa.array(pdf["sr_hz"], pa.int32()),
        "dur_ms": pa.array(pdf["dur_ms"], pa.int32()),
        "codec": pa.array(pdf["codec"], pa.string()),
        "transcript": pa.array(pdf["transcript"], pa.string()),
    })
    _write(os.path.join(out, "clips.parquet"), clips, 128)
    ids = np.arange(lo, hi, dtype=np.int64)
    ids = ids[~_hit(ids, "dangling_fk")]
    mod, off = synth.RULES["transcript_mismatch"]
    gold = [synth._transcript(i) + (" xmismatchx" if i % mod == off else "")
            for i in ids.tolist()]
    _write(os.path.join(out, "transcripts.parquet"),
           _transcripts_table(ids, pa.array(gold, pa.string())), 65536)
    return {"lo": lo, "hi": hi, "rows": len(pdf)}


# ---------------------------------------------------------------------------
# metadata fixture: many rows, small payloads, same schema and plants
# ---------------------------------------------------------------------------

def _sentence_pool(rng: np.random.Generator, k: int = 1024) -> np.ndarray:
    lens = rng.integers(3, 41, k)
    return np.array(
        [" ".join(synth.VOCAB[j] for j in rng.integers(0, len(synth.VOCAB), m))
         for m in lens],
        dtype=object,
    )


def build_meta(out: str, seed: int, n: int) -> dict:
    """Clips table of ``n`` window rows with 16-64 byte payloads: the audio
    pass has nothing to decode, the fused scan / shuffle / sketches do the
    work. Value distributions and plants follow engine.synth."""
    lo, hi = id_window(seed, n)
    rows = _row_ids(lo, hi)
    base = rows - lo  # a duplicate row repeats its source row
    rng = np.random.default_rng([seed, 17])
    sr = synth.SR_DOMAIN[rng.choice(4, size=n, p=synth.SR_WEIGHTS)][base].astype(np.int32)
    dur = np.exp(rng.normal(6.9, 0.55, n)).astype(np.int64)
    dur = np.clip(dur, 200, 30_000)[base].astype(np.int32)
    codec = synth.CODEC_DOMAIN.astype(object)[
        rng.choice(4, size=n, p=synth.CODEC_WEIGHTS)][base]
    pool = _sentence_pool(rng)
    transcript = pool[rng.integers(0, len(pool), n)][base]
    offsets = np.zeros(n + 1, dtype=np.int32)
    np.cumsum(rng.integers(16, 65, n), out=offsets[1:])
    payload = pa.Array.from_buffers(
        pa.binary(), n,
        [None, pa.py_buffer(offsets), pa.py_buffer(rng.bytes(int(offsets[-1])))],
    ).take(pa.array(base))

    sr[_hit(rows, "sr_hz_out_of_domain")] = 11025
    dur[_hit(rows, "dur_ms_zero")] = 0
    dur[_hit(rows, "dur_ms_huge")] = 3_600_000
    codec[_hit(rows, "codec_out_of_domain")] = "wma"
    codec[_hit(rows, "codec_null")] = None
    transcript[_hit(rows, "transcript_null")] = None

    clips = pa.table({
        "clip_id": _clip_ids(rows),
        "bytes": payload,
        "sr_hz": pa.array(sr, pa.int32()),
        "dur_ms": pa.array(dur, pa.int32()),
        "codec": pa.array(codec, pa.string()),
        "transcript": pa.array(transcript, pa.string()),
    })
    _write(os.path.join(out, "clips.parquet"), clips, 1 << 17)
    ids = np.arange(lo, hi, dtype=np.int64)
    keep = ~_hit(ids, "dangling_fk")
    gold = pa.array(pool[rng.integers(0, len(pool), int(keep.sum()))], pa.string())
    _write(os.path.join(out, "transcripts.parquet"),
           _transcripts_table(ids[keep], gold), 1 << 17)
    return {
        "lo": lo, "hi": hi, "rows": len(rows),
        "dur_min": int(dur.min()), "dur_max": int(dur.max()),
    }


# ---------------------------------------------------------------------------
# query corpus: the tables engine.queries reads, with the testdata schemas
# ---------------------------------------------------------------------------

_WORDS = (
    "the a of to and in is it for on data table row column value key join "
    "scan sort merge hash batch window stream query filter agg group order "
    "line part customer spark fast slow big small"
).split()


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    texts: list[str] = []
    for i in range(n):
        if i >= 10 and rng.random() < 0.15:
            # near duplicate of an earlier document: a few words replaced
            ws = texts[int(rng.integers(0, i))].split(" ")
            for j in rng.integers(0, len(ws), int(rng.integers(1, 4))):
                ws[j] = _WORDS[int(rng.integers(0, len(_WORDS)))]
        else:
            ws = [_WORDS[j] for j in rng.integers(0, len(_WORDS), int(rng.integers(8, 90)))]
        texts.append(" ".join(ws))
    langs = np.array(["en", "de", "fr", "es", "zh"], dtype=object)
    return pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(langs[rng.choice(5, n, p=[0.5, 0.15, 0.1, 0.15, 0.1])], pa.string()),
        "source": pa.array([f"src{k}" for k in rng.integers(0, 20, n)], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def _embeddings(rng: np.random.Generator, n: int, dim: int = 64) -> pa.Table:
    centers = rng.standard_normal((10, dim)) * 0.2
    label = rng.integers(0, 10, n)
    vec = (centers[label] + rng.standard_normal((n, dim)) * 0.08).astype(np.float32)
    return pa.table({
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": pa.array(list(vec), pa.list_(pa.float32())),
        "label": pa.array(label, pa.int32()),
    })


def _events(rng: np.random.Generator, n: int, users: int) -> pa.Table:
    ts0 = np.datetime64("2024-01-01T00:00:00", "us")
    steps = rng.integers(1_000_000, 300_000_000, n)
    kinds = np.array(["click", "view", "purchase", "signup", "error"], dtype=object)
    return pa.table({
        "event_id": pa.array(np.arange(n), pa.int64()),
        "ts": pa.array(ts0 + np.cumsum(steps).astype("timedelta64[us]"), pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, users, n), pa.int64()),
        "event_type": pa.array(kinds[rng.integers(0, 5, n)], pa.string()),
        "value": pa.array(np.round(rng.lognormal(2.0, 1.0, n), 2), pa.float64()),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)], pa.string()),
    })


def _lineitem_part(rng: np.random.Generator, n: int, parts: int) -> tuple[pa.Table, pa.Table]:
    qty = rng.integers(1, 51, n).astype(np.float64)
    qty[rng.random(n) < 0.001] = 60.0  # out-of-range plants for the suite
    flag = np.array(["A", "N", "R"], dtype=object)[rng.integers(0, 3, n)]
    flag[rng.random(n) < 0.001] = "X"
    partkey = rng.integers(0, parts, n)
    partkey[rng.random(n) < 0.001] += parts  # dangling references
    day0 = np.datetime64("1995-01-01", "D")
    lineitem = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n // 4, n), pa.int64()),
        "l_partkey": pa.array(partkey, pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, 100, n), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n), pa.int32()),
        "l_quantity": pa.array(qty, pa.float64()),
        "l_extendedprice": pa.array(rng.integers(90_000, 10_000_000, n) / 100.0, pa.float64()),
        "l_discount": pa.array(rng.integers(0, 11, n) / 100.0, pa.float64()),
        "l_tax": pa.array(rng.integers(0, 9, n) / 100.0, pa.float64()),
        "l_returnflag": pa.array(flag, pa.string()),
        "l_linestatus": pa.array(np.array(["O", "F"], dtype=object)[rng.integers(0, 2, n)], pa.string()),
        "l_shipdate": pa.array(
            (day0 + rng.integers(0, 2500, n).astype("timedelta64[D]")).astype("datetime64[us]"),
            pa.timestamp("us")),
    })
    names = np.array(["small ring", "red widget", "blue bolt", "steel gear"], dtype=object)
    part = pa.table({
        "p_partkey": pa.array(np.arange(parts), pa.int64()),
        "p_name": pa.array(names[rng.integers(0, 4, parts)], pa.string()),
        "p_brand": pa.array([f"Brand#{k}" for k in rng.integers(1, 26, parts)], pa.string()),
        "p_type": pa.array(np.array(["ECONOMY", "SMALL", "LARGE"], dtype=object)[
            rng.integers(0, 3, parts)], pa.string()),
        "p_size": pa.array(rng.integers(1, 51, parts), pa.int32()),
        "p_retailprice": pa.array(900.0 + np.arange(parts) / 10.0, pa.float64()),
    })
    return lineitem, part


#: corpus table sizes (rows); small on purpose: this workload measures the
#: engine's per-query fixed costs (planning, scheduling, Python-UDF start)
CORPUS_ROWS = {"lineitem": 20_000, "part": 2_000, "events": 10_000,
               "documents": 500, "embeddings": 500}


def build_corpus(out: str, seed: int, n: int) -> dict:
    rng = np.random.default_rng([seed, 29])
    scale = n / CORPUS_ROWS["lineitem"]
    size = {k: max(int(v * scale), 50) for k, v in CORPUS_ROWS.items()}
    lineitem, part = _lineitem_part(rng, size["lineitem"], size["part"])
    tables = {
        "lineitem": lineitem, "part": part,
        "events": _events(rng, size["events"], max(size["events"] // 70, 10)),
        "documents": _documents(rng, size["documents"]),
        "embeddings": _embeddings(rng, size["embeddings"]),
    }
    for name, t in tables.items():
        _write(os.path.join(out, f"{name}.parquet"), t, 1 << 20)
    return {"rows": {k: t.num_rows for k, t in tables.items()}}


BUILDERS = {"audio": build_audio, "meta": build_meta, "corpus": build_corpus}


def _generator_hash() -> str:
    h = hashlib.sha256()
    for path in (synth.__file__, __file__):
        with open(path, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:12]


class FixtureCache:
    """Fixture directories keyed by (kind, seed, size, generator hash), kept
    for the last ``CACHE_KEEP`` uses. A directory is visible only once
    complete (built under a temporary name, then renamed)."""

    def __init__(self, root: str):
        self.root = root
        self.gen_s = 0.0   # seconds spent generating in this process
        self.hits = 0
        self.misses = 0

    def get(self, kind: str, seed: int, size: int) -> tuple[str, dict]:
        key = f"{kind}-s{seed}-n{size}-{_generator_hash()}"
        path = os.path.join(self.root, key)
        info_path = os.path.join(path, "info.json")
        if os.path.exists(info_path):
            self.hits += 1
            os.utime(path)
        else:
            self.misses += 1
            tmp = f"{path}.tmp{os.getpid()}"
            shutil.rmtree(tmp, ignore_errors=True)
            os.makedirs(tmp)
            t0 = time.perf_counter()
            info = BUILDERS[kind](tmp, seed, size)
            self.gen_s += time.perf_counter() - t0
            with open(os.path.join(tmp, "info.json"), "w") as f:
                json.dump(info, f)
            shutil.rmtree(path, ignore_errors=True)
            os.rename(tmp, path)
            self._evict()
        with open(info_path) as f:
            return path, json.load(f)

    def _evict(self) -> None:
        entries = [os.path.join(self.root, d) for d in os.listdir(self.root)
                   if os.path.exists(os.path.join(self.root, d, "info.json"))]
        entries.sort(key=os.path.getmtime, reverse=True)
        for old in entries[CACHE_KEEP:]:
            shutil.rmtree(old, ignore_errors=True)
