#!/usr/bin/env python3
"""Seeded benchmark of the validation engine.

    python3 perfbench/run.py --workload audio_suite --seed 1 --seconds 10 --trace 0

Runs one workload (see ``workloads.py`` and README.md) as a closed loop with
one client on ``local[<cores>]``: set up (session, seeded fixtures, warm-up),
then about ``--seconds`` of complete passes, checking every result against
ground truth. Prints a readable report, then, as the last line, one
JSON object ``{"correct", "attempted", "failed", "metrics"}`` holding the
end-to-end metrics (``--trace 0``) or the per-layer metrics of the traced run
(``--trace 1``). Reads and writes only inside the checkout it runs from.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import statistics
import sys
import time
import traceback
from concurrent.futures import ThreadPoolExecutor

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOAD_NAMES = ("audio_suite", "meta_suite", "resume_shards", "corpus_queries")

END_TO_END = {
    "setup_s": "s", "pass_s": "s", "rows_per_s": "rows/s", "resume_s": "s", "query_p50_s": "s",
}
#: a p90 needs at least this many samples to have ten beyond it
P90_MIN_SAMPLES = 100


def process_age() -> float:
    """Seconds since this process started, from /proc."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def isolate(work: str) -> dict[str, str]:
    """Point every temporary and scratch location of Python, the JVM and
    Spark into ``work``; make ``engine`` importable by the Python workers."""
    for sub in ("tmp", "local", "warehouse", "events"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    # every JVM (spark-submit's launcher too): temp files in the work dir,
    # no hsperfdata file in the system temp directory
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-XX:-UsePerfData -Djava.io.tmpdir={os.path.join(work, 'tmp')}")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    sys.path.insert(0, ROOT)
    return {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(work, "local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
    }


def stop_spark(spark) -> None:
    """Stop the session, then the JVM it launched and the Python workers
    under it, and wait until each has exited."""
    from pyspark import SparkContext

    import tracing

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    tree = tracing.descendants(proc.pid) if proc else []
    spark.stop()
    if proc is None:
        return
    gw.shutdown()
    proc.stdin.close()
    proc.wait(timeout=60)
    SparkContext._gateway = SparkContext._jvm = None
    deadline = time.monotonic() + 30
    while any(os.path.exists(f"/proc/{p}") and tracing.rss_kb(p) for p in tree):
        if time.monotonic() > deadline:
            raise RuntimeError("Spark worker processes did not exit")
        time.sleep(0.1)


def settle(spark, seconds: float = 1.0) -> None:
    """End of warm-up: collect the JVM heap and let the JIT compiler threads
    drain their queues, so every run starts timing from the same state."""
    spark.sparkContext._jvm.System.gc()
    time.sleep(seconds)


def make_act(rec: dict, tr=None, pass_no=None):
    """The action timer handed to a workload: runs ``fn``, adds its latency
    to ``rec['actions']`` and, when tracing, wraps it in a span."""

    def act(name: str, fn):
        t0 = time.perf_counter()
        if tr is None:
            out = fn()
        else:
            with tr.span(name, pass_no=pass_no):
                out = fn()
        rec["actions"][name] = rec["actions"].get(name, 0.0) + time.perf_counter() - t0
        return out

    return act


def run_passes(wl, seconds: float, tr) -> list[dict]:
    """``ceil(seconds / wl.PASS_S)`` complete passes: the run measures about
    ``seconds`` of work, and always the same passes of the JIT warming curve,
    so runs (and commits) compare like with like. When tracing, at least
    four passes in the order untraced, traced, traced, untraced, ... so that
    a warming trend cancels out of the difference of their medians (the
    tracing overhead)."""
    n = max(1, math.ceil(seconds / wl.PASS_S))
    if tr is not None:
        n = max(n, 4)
    passes: list[dict] = []
    for k in range(n):
        traced = tr is not None and k % 4 in (1, 2)
        rec: dict = {"actions": {}, "traced": traced, "ok": False}
        try:
            rec.update(wl.run_pass(make_act(rec, tr if traced else None, k)))
        except Exception:
            traceback.print_exc()
        rec["pass_s"] = sum(rec["actions"].values())
        passes.append(rec)
    return passes


def end_to_end(wl, passes: list[dict], setup_s: float, peak_mb: float) -> tuple[dict, dict]:
    pass_s = statistics.median(p["pass_s"] for p in passes)
    metrics = {
        "setup_s": setup_s,
        "pass_s": pass_s,
        "rows_per_s": wl.rows / pass_s,
    }
    # printed, not bounded: the JVM's heap growth makes it vary 30-50 %
    # between runs of the same code
    notes: dict = {"passes": [round(p["pass_s"], 3) for p in passes],
                   "peak_rss_mb": round(peak_mb, 1)}
    if wl.name == "resume_shards":
        metrics["resume_s"] = statistics.median(p["resume_s"] for p in passes)
    if wl.name == "corpus_queries":
        lat = [x for p in passes for x in p["actions"].values()]
        metrics["query_p50_s"] = statistics.median(lat)
        notes["query_samples"] = len(lat)
        if len(lat) >= P90_MIN_SAMPLES:
            notes["query_p90_s"] = statistics.quantiles(lat, n=10)[-1]
    return metrics, notes


def run(args, work: str, t_proc: float) -> dict:
    conf = isolate(work)
    from engine.session import get_spark  # fails fast without the engine
    from pyspark import SparkContext

    import fixtures
    import tracing
    import workloads

    cores = len(os.sched_getaffinity(0))
    if args.trace:
        conf.update(tracing.event_log_conf(os.path.join(work, "events")))
    cache = fixtures.FixtureCache(os.path.join(HERE, ".cache"))
    os.makedirs(cache.root, exist_ok=True)
    tr = None
    out: dict = {"workload": args.workload, "seed": args.seed, "cores": cores}
    with ThreadPoolExecutor(1) as pool:
        # fixtures (and the corpus oracle) are made in this process while the
        # JVM boots
        gen = pool.submit(workloads.WORKLOADS[args.workload].prepare, cache, args.seed)
        t0 = time.perf_counter()
        spark = get_spark("perfbench", cores=cores, extra_conf=conf)
        session_s = time.perf_counter() - t0
    live = [spark]  # the session to stop last (the traced run may replace it)
    try:
        prepared = gen.result()
        if args.trace:
            tr = tracing.Tracer(spark.sparkContext, f"{args.workload}-{args.seed}")
        with tracing.RssSampler(SparkContext._gateway.proc.pid) as rss:
            ctx = workloads.Ctx(spark, cache, args.seed, work, cores, prepared)
            t1 = time.perf_counter()
            wl = workloads.WORKLOADS[args.workload](ctx)
            t2 = time.perf_counter()
            wl.warm(make_act({"actions": {}}, tr))
            settle(spark)
            t3 = time.perf_counter()
            setup_s = t3 - t_proc
            passes = run_passes(wl, args.seconds, tr)
            t4 = time.perf_counter()
            wrong = wl.final_check() if hasattr(wl, "final_check") else set()
            check_s = time.perf_counter() - t4
            if tr is not None:
                wl.probe(tr)
        failed = sum(1 for k, p in enumerate(passes) if not p["ok"] or k in wrong)
        out.update(attempted=len(passes), failed=failed)
        out["metrics"], out["notes"] = end_to_end(wl, passes, setup_s, rss.peak_mb)
        out["notes"].update(
            fixture_cache={"hits": cache.hits, "misses": cache.misses},
            setup_parts_s={"before_session": t0 - t_proc, "session": session_s,
                           "load": t2 - t1, "warm": t3 - t2},
            final_check_s=check_s)
        if tr is not None:
            out["layers"] = traced_layers(args, wl, tr, passes, conf, session_s, live)
    finally:
        stop_spark(live[0])
    return out


def traced_layers(args, wl, tr, passes, conf, session_s, live) -> dict:
    import layers
    import tracing
    import workloads

    ctx = wl.ctx
    ctx.spark.stop()  # finishes the event log; the JVM stays up
    tr.finish(tracing.spark_metrics_by_group(os.path.join(ctx.work, "events")))
    extra = {"session_s": session_s, "gen_s": ctx.cache.gen_s, "cores": ctx.cores, "layers": {}}
    if args.workload == "audio_suite":
        extra["layers"].update(layers.codec_layers(os.path.join(wl.fixture_dir, "clips.parquet")))
        # single-core scaling baseline: a pass on local[1] in the same (warm)
        # JVM, after one untimed pass that starts its Python worker
        from engine.session import get_spark

        live[0] = get_spark("perfbench-local1", cores=1,
                            extra_conf={**conf, "spark.eventLog.enabled": "false"})
        one = workloads.AudioSuite(workloads.Ctx(live[0], ctx.cache, args.seed, ctx.work, 1))
        one.run_pass(make_act({"actions": {}}))
        rec = {"actions": {}}
        one.run_pass(make_act(rec))
        local1 = sum(rec["actions"].values())
        extra["layers"]["scaling.local1_pass_s"] = local1
        extra["layers"]["scaling.speedup"] = local1 / statistics.median(
            p["pass_s"] for p in passes if not p["traced"])
    resume_recs = passes if args.workload == "resume_shards" else getattr(wl, "resume_passes", [])
    values = layers.per_layer(
        wl, tr, [p for p in passes if p["traced"]], [p for p in passes if not p["traced"]],
        resume_recs, extra)
    trace_path = os.path.join(HERE, "out", f"trace-{args.workload}-{args.seed}.json")
    os.makedirs(os.path.dirname(trace_path), exist_ok=True)
    with open(trace_path, "w") as f:
        json.dump({"spans": tr.spans, "layers": values}, f, indent=1, default=str)
    return values


def report(out: dict, trace: bool) -> dict:
    """Readable lines, then the result object."""
    import layers

    print(f"workload {out['workload']}  seed {out['seed']}  local[{out['cores']}]  "
          f"passes {out['attempted']}  failed {out['failed']}  "
          f"fail_ratio {out['failed'] / out['attempted']:.3f}")
    for k, v in out["metrics"].items():
        print(f"  {k:<16} {v:.6g} {END_TO_END[k]}")
    notes = out["notes"]
    if "query_samples" in notes:
        p90 = notes.get("query_p90_s")
        print("  query_p90_s      " + (f"{p90:.6g} s" if p90 is not None else
              f"not reported: {notes['query_samples']} samples, p90 needs {P90_MIN_SAMPLES}"))
    print(f"  notes {json.dumps(notes)}")
    if trace:
        for name, unit, better, moves, wl in layers.LAYERS:
            print(f"  {name:<44} {out['layers'][name]:.6g} {unit}  "
                  f"({better} is better; moves {moves} on {wl})")
        metrics = {k: {"value": v, "unit": layers.UNITS[k]} for k, v in out["layers"].items()}
    else:
        metrics = {k: {"value": v, "unit": END_TO_END[k]} for k, v in out["metrics"].items()}
    return {"correct": out["failed"] == 0, "attempted": out["attempted"],
            "failed": out["failed"], "metrics": metrics}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOAD_NAMES)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    t_proc = time.perf_counter() - process_age()
    work = os.path.join(HERE, ".work", f"{args.workload}-{os.getpid()}")
    try:
        out = run(args, work, t_proc)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(report(out, bool(args.trace))))
    return 0


if __name__ == "__main__":
    sys.exit(main())
