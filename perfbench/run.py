#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload bulk_tokens --seed 1 \\
        --seconds 12 --trace 0

Runs one workload (``bulk_tokens``, ``wide_table`` or
``interactive_reads``) at local[N], N being the cores this process may
run on, with one closed-loop client, for ``--seconds`` of measurement
after set-up. Every answer is checked; a wrong answer or an exception
counts as a failed operation.

Standard output ends with two JSON lines: the full record (every
workload metric with its unit, host context, determinism check, and
for ``--trace 1`` the per-module span totals), then the result line
``{"correct", "attempted", "failed", "metrics"}``. ``--trace 0``
reports the end-to-end metrics of BENCHMARK.json, ``--trace 1`` its
per-layer metrics. Records are also kept under
``.perfbench_work/results/``.

Exit codes: 0 success (even with failed operations, which the result
reports), 2 the engine or Spark cannot be imported, 3 more cores
requested than obtained, 4 the run overran its time limit.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import sys
import threading
import time

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
WORK = os.path.join(ROOT, ".perfbench_work")
TIME_LIMIT_S = 170          # a run must exit within 180 s

sys.path.insert(0, BENCH_DIR)

import hostinfo  # noqa: E402


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=["bulk_tokens", "wide_table",
                             "interactive_reads"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--cores", type=int, default=None,
                    help="cores to run on (default: all this process "
                         "may use); more than that is refused")
    return ap.parse_args(argv)


def _code_digest() -> str:
    """Digest of the engine and benchmark sources: determinism is
    checked against earlier runs of the same code only."""
    h = hashlib.sha256()
    for base in (os.path.join(ROOT, "br_archive_spark"), BENCH_DIR):
        for dirpath, dirnames, files in os.walk(base):
            dirnames.sort()
            for f in sorted(files):
                if f.endswith(".py"):
                    with open(os.path.join(dirpath, f), "rb") as fh:
                        h.update(f.encode() + fh.read())
    return h.hexdigest()[:16]


def _determinism(fp: dict, key: str) -> str:
    """Compare this run's encode fingerprint with the first run of the
    same code, workload, seed and cores; record it if it is the first."""
    path = os.path.join(WORK, "fingerprints", key + ".json")
    os.makedirs(os.path.dirname(path), exist_ok=True)
    if os.path.exists(path):
        with open(path, encoding="utf-8") as fh:
            return "repeats" if json.load(fh) == fp else "differs"
    with open(path, "w", encoding="utf-8") as fh:
        json.dump(fp, fh)
    return "first"


def _clock() -> tuple[float, float]:
    """(wall seconds, CPU seconds of the process tree) now."""
    return time.perf_counter(), hostinfo.tree_cpu_s()


def _since(c0: tuple[float, float]) -> tuple[float, float]:
    """(wall, CPU) seconds elapsed since ``c0 = _clock()``."""
    w, c = _clock()
    return w - c0[0], c - c0[1]


def _watchdog() -> threading.Timer:
    def abort():
        print(f"perfbench: run exceeded {TIME_LIMIT_S} s; stopping",
              file=sys.stderr, flush=True)
        hostinfo.stop_tree(timeout=5)
        os._exit(4)

    t = threading.Timer(TIME_LIMIT_S, abort)
    t.daemon = True
    t.start()
    return t


def run(args, cores: dict) -> dict:
    import harness
    import spantrace
    from bench import _noise_probe
    from workloads import WORKLOADS

    traced = bool(args.trace)
    run_dir = os.path.join(WORK, "run")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    n = cores["requested"]
    with hostinfo.RssSampler() as rss:
        c0 = _clock()
        spark = harness.start_session(ROOT, run_dir, n, traced)
        if traced:
            spantrace.install()
        session = _since(c0)
        try:
            h = harness.Harness(spark, traced)
            wl = WORKLOADS[args.workload](spark, h, run_dir, args.seed, n)
            probe_s = _noise_probe()
            c0 = _clock()
            harness.start_workers(spark, n)
            workers = _since(c0)
            reps = []
            for rep in range(harness.SETUP_REPS):
                c0 = _clock()
                wl.setup_rep(rep)
                reps.append(_since(c0))
            t = time.perf_counter()
            wl.prepare()
            check_s = time.perf_counter() - t
            c0 = _clock()
            wl.warm_up()
            warmup = _since(c0)
            t_loop = time.perf_counter()
            i = 0
            while True:
                # traced runs alternate traced and untraced iterations,
                # so the tracing overhead is measured in the same run
                wl.iterate(traced=traced and i % 2 == 0)
                i += 1
                if time.perf_counter() - t_loop >= args.seconds:
                    break
            loop_s = time.perf_counter() - t_loop
        finally:
            harness.stop_session(spark)
    leftover = hostinfo.stop_tree()

    session_s, workers_s, warmup_s = session[0], workers[0], warmup[0]
    rep_walls = [w for w, _ in reps]
    setup_ops = [o for o in h.ops if o["phase"] == "setup"]
    gen = [r - sum(o["wall_s"] for o in setup_ops if o.get("rep") == k)
           for k, r in enumerate(rep_walls)]
    if setup_ops:               # the table is generated by rep 0 only
        gen = gen[:1]
    setup_wall_s = (session_s + workers_s + harness.median(rep_walls)
                    + warmup_s)
    # gated in CPU seconds, like the loop: wall time on a shared host
    # counts the time the hypervisor gives to other guests
    setup_s = (session[1] + workers[1]
               + harness.median([c for _, c in reps]) + warmup[1])
    walls = wl.op_times()
    loop = h.loop_ops()
    failed = sum(o["failed"] for o in h.ops)
    # the first encode's size, chunk count and codec mix
    fp = wl.encoded
    key = f"{args.workload}-seed{args.seed}-cores{n}-{_code_digest()}"
    det = _determinism(fp, key) if fp else "no encode"

    e2e = {"setup_s": (setup_s, "s"),
           "setup_wall_s": (setup_wall_s, "s"),
           "items_per_s": (wl.items_per_s(), "1/s"),
           "items_per_cpu_s": (wl.items_per_cpu_s(), "1/s"),
           "op_p50_ms": (1e3 * harness.median(walls), "ms")
           if walls else (None, "ms"),
           "bytes_per_value": (wl.bytes_per_value(), "B"),
           "peak_rss_mb": (rss.peak_mb, "MB"),
           "error_rate": (failed / len(h.ops), "ratio")}
    e2e.update(wl.metrics())
    if "encode_tok_per_s" in e2e and e2e["encode_tok_per_s"][0]:
        # tokens per noise-probe second: cancels how fast the host is
        e2e["encode_tok_per_probe_s"] = (
            e2e["encode_tok_per_s"][0] * probe_s, "1")
    record = {
        "workload": args.workload, "seed": args.seed,
        "seconds": args.seconds, "trace": args.trace,
        "cores": cores, "master": f"local[{n}]",
        "noise_probe_floor_s": probe_s,
        "session_start_s": session_s, "workers_start_s": workers_s,
        "setup_reps_s": rep_walls,
        "setup_reps_cpu_s": [c for _, c in reps],
        "gen_s": gen, "warmup_s": warmup_s, "check_s": check_s,
        "loop_s": loop_s, "iterations": i, "op_walls_s": walls,
        "op_cpus_s": wl.op_times("cpu_s"),
        "ops": {k: sum(1 for o in loop if o["kind"] == k)
                for k in sorted({o["kind"] for o in loop})},
        "attempted": len(h.ops), "failed": failed,
        "errors": h.errors[:20],
        "determinism": det, "fingerprint": fp, "code": key,
        "metrics": {k: {"value": v, "unit": u}
                    for k, (v, u) in e2e.items()},
        "leftover_processes": leftover,
    }
    if traced:
        import layers

        spans = spantrace.read_spans(os.path.join(run_dir, "trace"))
        per, detail = layers.per_layer(h, wl, spans, n, session_s,
                                       harness.median(gen))
        per["peak_rss_mb"] = (rss.peak_mb, "MB")
        record["per_layer"] = {k: {"value": v, "unit": u}
                               for k, (v, u) in per.items()}
        record["spans"] = detail
        record["span_count"] = len(spans)
    shutil.rmtree(run_dir, ignore_errors=True)
    return record


def result_line(record: dict) -> dict:
    """The last stdout line: the metrics BENCHMARK.json names for this
    kind of run."""
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as fh:
        spec = json.load(fh)
    names = spec["per_layer" if record["trace"] else "end_to_end"]
    source = record["per_layer" if record["trace"] else "metrics"]
    metrics = {}
    for m in names:
        got = source.get(m["name"])
        if got is None or got["value"] is None:
            raise RuntimeError(f"metric {m['name']!r} was not measured")
        metrics[m["name"]] = {"value": got["value"], "unit": m["unit"]}
    correct = record["failed"] == 0 and record["determinism"] != "differs"
    return {"correct": correct, "attempted": record["attempted"],
            "failed": record["failed"], "metrics": metrics}


def main(argv=None) -> int:
    args = parse_args(argv)
    try:
        cores = hostinfo.core_counts(args.cores)
    except hostinfo.CoreRequestError as e:
        print(f"perfbench: {e}", file=sys.stderr)
        return 3
    sys.path.insert(0, ROOT)
    try:
        import bench  # noqa: F401  (the noise probe's kernel)
        import br_archive_spark  # noqa: F401
        import pyspark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: cannot import the engine from {ROOT}: {e}",
              file=sys.stderr)
        return 2
    watchdog = _watchdog()
    try:
        record = run(args, cores)
    finally:
        watchdog.cancel()
    os.makedirs(os.path.join(WORK, "results"), exist_ok=True)
    name = (f"{args.workload}-seed{args.seed}-trace{args.trace}-"
            f"{time.strftime('%Y%m%dT%H%M%S')}.json")
    with open(os.path.join(WORK, "results", name), "w",
              encoding="utf-8") as fh:
        json.dump(record, fh, indent=1, default=str)
    try:
        line = result_line(record)
    except RuntimeError as e:
        # no operation of some kind succeeded: there is no result
        print(json.dumps(record, default=str), file=sys.stderr)
        print(f"perfbench: {e}", file=sys.stderr)
        return 1
    print(json.dumps(record, default=str))
    print(json.dumps(line))
    return 0


if __name__ == "__main__":
    sys.exit(main())
