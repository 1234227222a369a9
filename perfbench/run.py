#!/usr/bin/env python3
"""The repo benchmark: one seeded workload per invocation.

    python3 perfbench/run.py --workload pages_tag --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --workload all --seed 1 --seconds 10

Run from the repository root.  One driver process, local[nproc], a
closed loop with one client and one Spark action at a time.  Every
output is checked against ``perfbench.oracle``.  The last stdout line is
one JSON object {"correct", "attempted", "failed", "metrics"}: the
end-to-end metrics with ``--trace 0``, the per-layer metrics (Spark event
log on, spans as job groups, noop-sink rung ladder) with ``--trace 1``.
Inputs are cached under ``.perfbench/cache``; each run's full record
(host, versions, Spark conf, all samples) goes to ``.perfbench/results``.
See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
WORK = ROOT / ".perfbench"
WORKLOAD_NAMES = ("pages_tag", "warc_sink")
SETUP_REPS = 3
MIN_FREE_DISK = 3 << 30
DRIVER_HEAP_GB = 2

END_TO_END = [  # name, unit, better
    ("setup_s", "s", "lower"),
    ("cpu_s", "s", "lower"),
    ("cpu_tail_s", "s", "lower"),
    ("peak_rss_mb", "MB", "lower"),
]

# throughputs and wall-clock figures: printed and recorded, not gated
# (see README)
UNGATED = [("items_per_cpu_s", "1/s"), ("wall_s", "s"), ("wall_tail_s", "s"),
           ("throughput_per_s", "1/s")]

PER_LAYER = [
    ("session.start_s", "s", "lower"),
    ("fixtures.gen_s", "s", "lower"),
    ("scan.s", "s", "lower"),
    ("scan.bytes_read", "bytes", "lower"),
    ("geocode.s", "s", "lower"),
    ("arrow.s", "s", "lower"),
    ("arrow.bytes_sent", "bytes", "lower"),
    ("arrow.bytes_received", "bytes", "lower"),
    ("python.boot_s", "s", "lower"),
    ("python.init_s", "s", "lower"),
    ("spatial_join.kernel_s", "s", "lower"),
    ("spatial_join.python_s", "s", "lower"),
    ("spatial_join.match_ratio", "ratio", "higher"),
    ("spatial_join.index_bytes", "bytes", "lower"),
    ("spatial_join.index_build_s", "s", "lower"),
    ("spatial_join.salt", "count", "lower"),
    ("spatial_join.salt_s", "s", "lower"),
    ("tiles.pages_s", "s", "lower"),
    ("tiles.features_s", "s", "lower"),
    ("tiles.rows_out", "count", "lower"),
    ("knn.s", "s", "lower"),
    ("knn.python_s", "s", "lower"),
    ("warc.index_s", "s", "lower"),
    ("warc.decode_s", "s", "lower"),
    ("warc.mb_per_s", "MB/s", "higher"),
    ("textops.fingerprint_s", "s", "lower"),
    ("io.write_s", "s", "lower"),
    ("io.bytes_written", "bytes", "lower"),
    ("io.bytes_per_input_byte", "ratio", "lower"),
    ("exchange.shuffle_write_bytes", "bytes", "lower"),
    ("exchange.shuffle_read_bytes", "bytes", "lower"),
    ("exchange.spill_bytes", "bytes", "lower"),
    ("exchange.fetch_wait_s", "s", "lower"),
    ("tasks.skew_ratio", "ratio", "lower"),
    ("tasks.count", "count", "lower"),
    ("tasks.cpu_s", "s", "lower"),
    ("tasks.gc_s", "s", "lower"),
    ("tasks.utilization", "ratio", "higher"),
    ("routing.contract_s", "s", "lower"),
    ("routing.contract_rounds", "count", "lower"),
    ("routing.overlay_edges", "count", "lower"),
    ("routing.python_s", "s", "lower"),
    ("routing.us_per_route", "us", "lower"),
    ("trace.wall_s", "s", "lower"),
]

NAMED_UNITS = {"join_pages_per_s": "1/s", "ingest_pages_per_s": "1/s",
               "routes_per_s": "1/s", "page_tiles_s": "s", "feature_tiles_s": "s",
               "knn_s": "s", "salt_s": "s", "contract_s": "s"}


def log(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


def host_snapshot() -> dict:
    mem = {}
    with open("/proc/meminfo") as fh:
        for line in fh:
            k, v = line.split(":", 1)
            mem[k] = int(v.split()[0]) * 1024
    return {"loadavg": list(os.getloadavg()),
            "mem_available_bytes": mem.get("MemAvailable"),
            "mem_total_bytes": mem.get("MemTotal"),
            "disk_free_bytes": shutil.disk_usage(WORK).free}


def code_identity() -> dict:
    """Git commit when the tree is a checkout, plus a hash of the engine
    sources, which exists either way."""
    try:
        commit = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, text=True,
                                capture_output=True, timeout=10).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        commit = None
    h = hashlib.sha256()
    for p in sorted((ROOT / "osm_spark").rglob("*.py")):
        h.update(p.relative_to(ROOT).as_posix().encode())
        h.update(p.read_bytes())
    return {"git_commit": commit, "source_sha256": h.hexdigest()}


def versions() -> dict:
    import numpy
    import pyarrow
    import pyspark

    return {"python": sys.version.split()[0], "pyspark": pyspark.__version__,
            "numpy": numpy.__version__, "pyarrow": pyarrow.__version__}


def fresh_dir(path: Path) -> Path:
    shutil.rmtree(path, ignore_errors=True)
    path.mkdir(parents=True)
    return path


def host_settings(trace: bool, run_dir: Path) -> tuple[int, dict]:
    """local[nproc], a driver heap that fits the host, a benchmark-owned
    Spark local dir (emptied per run) and, when tracing, the event log."""
    cores = len(os.sched_getaffinity(0))
    total = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    heap_gb = max(1, min(DRIVER_HEAP_GB, int(total * 0.25) >> 30))
    local_dir = fresh_dir(WORK / "spark-local")
    free = shutil.disk_usage(local_dir).free
    if free < MIN_FREE_DISK:
        raise SystemExit(f"perfbench: only {free >> 20} MB free for Spark spill "
                         f"under {local_dir}; need {MIN_FREE_DISK >> 20} MB")
    os.environ["SPARK_LOCAL_DIRS"] = str(local_dir)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = f"{heap_gb}g"
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [str(ROOT)] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    conf = {"spark.local.dir": str(local_dir),
            "spark.ui.showConsoleProgress": "false"}
    if trace:
        events = fresh_dir(run_dir / "eventlog")
        conf.update({"spark.eventLog.enabled": "true",
                     "spark.eventLog.dir": events.as_uri(),
                     "spark.eventLog.compress": "false",
                     "spark.eventLog.rolling.enabled": "false"})
    return cores, conf


def stop_spark(spark, proc, timeout: float = 60.0) -> None:
    """Stop the session, then end the JVM (it exits when its stdin
    closes) and wait until it and every process started under this one
    has exited; whatever is left after ``timeout`` is killed."""
    from perfbench import tracing as TR

    started = TR.descendants(os.getpid())
    spark.stop()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.monotonic() + timeout
    while True:
        alive = [p for p in started if _running(p)]
        if not alive:
            return
        if time.monotonic() > deadline:
            for p in alive:
                try:
                    os.kill(p, signal.SIGKILL)
                except ProcessLookupError:
                    pass
            deadline = float("inf")
        time.sleep(0.1)


def _running(pid: int) -> bool:
    """True while ``pid`` exists and is not a zombie."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(")", 1)[1].split()[0] != "Z"
    except (OSError, IndexError):
        return False


def run_one(args) -> int:
    sys.path.insert(0, str(ROOT))
    try:
        import osm_spark  # noqa: F401
        import pyspark  # noqa: F401
    except ImportError as e:
        log(f"cannot import the engine from {ROOT}: {e}")
        return 2
    from osm_spark.session import get_spark

    from perfbench import tracing as TR
    from perfbench.workloads import WORKLOADS, Context

    WORK.mkdir(exist_ok=True)
    before = host_snapshot()
    run_dir = fresh_dir(WORK / "run")
    cores, conf = host_settings(bool(args.trace), run_dir)

    t0 = time.perf_counter()
    spark = get_spark(f"perfbench-{args.workload}", cores=cores,
                      shuffle_partitions=2 * cores, extra_conf=conf)
    session_s = time.perf_counter() - t0
    sc = spark.sparkContext
    sc.setLogLevel("ERROR")
    tracer = TR.Tracer(sc if args.trace else None)
    proc = getattr(getattr(sc, "_gateway", None), "proc", None)
    jvm_pid = proc.pid if proc else None
    ctx = Context(spark, args.seed, WORK / "cache", fresh_dir(run_dir / "scratch"),
                  tracer, cores, jvm_pid)
    wl = WORKLOADS[args.workload](ctx)
    setup_times: list[float] = []
    phases: dict[str, float] = {}
    try:
        with TR.RssSampler(jvm_pid or os.getpid()) as rss:
            for _ in range(SETUP_REPS):
                with tracer.span("setup") as sp:
                    wl.setup()
                setup_times.append(sp.seconds)
            for phase in ("expect", "warmup"):
                with tracer.span(phase) as sp:
                    getattr(wl, phase)()
                phases[phase] = sp.seconds
            steal0 = TR.cpu_steal()
            with tracer.span("window") as sp:
                wl.run_window(args.seconds, bool(args.trace))
            phases["window"] = sp.seconds
            steal1 = TR.cpu_steal()
        spark_conf = dict(sc.getConf().getAll())
    finally:
        t_stop = time.perf_counter()
        stop_spark(spark, proc)
        phases["stop"] = time.perf_counter() - t_stop

    wall = TR.median(wl.iter_times)
    tail, tail_pct, n_iter = TR.tail(wl.iter_times)
    e2e = {
        "setup_s": session_s + TR.median(setup_times),
        "cpu_s": TR.median(wl.iter_cpu),
        "cpu_tail_s": TR.tail(wl.iter_cpu)[0],
        "peak_rss_mb": rss.peak / 1e6,
    }
    ungated = {"items_per_cpu_s": wl.items_per_cpu_s(), "wall_s": wall,
               "wall_tail_s": tail, "throughput_per_s": wl.throughput()}
    named = wl.named_metrics()
    record = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "time": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
        "code": code_identity(), "versions": versions(), "cores": cores,
        "host_before": before, "host_after": host_snapshot(),
        "spark_conf": spark_conf,
        "attempted": wl.attempted, "failed": wl.failed,
        "error_rate": wl.failed / max(wl.attempted, 1), "problems": wl.problems,
        "end_to_end": e2e, "ungated": ungated, "named": named,
        "wall_tail_percentile": tail_pct, "iterations": n_iter,
        "window_steal_share": (steal1[0] - steal0[0]) / max(steal1[1] - steal0[1], 1),
        "iteration_quartiles": {"wall_s": TR.quartiles(wl.iter_times),
                                "cpu_s": TR.quartiles(wl.iter_cpu)},
        "samples": {"iteration_s": wl.iter_times, "iteration_cpu_s": wl.iter_cpu,
                    "op_cpu_s": wl.op_cpu, "setup_s": setup_times,
                    "session_start_s": session_s, "phases_s": phases,
                    "ops": wl.op_times,
                    "rungs": wl.rungs, "setup_parts": wl.setup_parts},
    }
    results = WORK / "results"
    results.mkdir(exist_ok=True)
    if args.trace:
        layers = {name: 0.0 for name, _, _ in PER_LAYER}
        layers.update(wl.layers(TR.read_event_log(run_dir / "eventlog")))
        layers.update({"session.start_s": session_s, "fixtures.gen_s": ctx.gen_s,
                       "trace.wall_s": wall})
        record["per_layer"] = layers
        untraced = sorted(results.glob(f"{args.workload}-trace0-*.json"))
        if untraced:
            base = json.loads(untraced[-1].read_text())["ungated"]["wall_s"]
            record["tracing_overhead_s"] = wall - base
        tracer.write(run_dir / "spans.jsonl")
        metrics = {n: {"value": layers[n], "unit": u} for n, u, _ in PER_LAYER}
    else:
        metrics = {n: {"value": e2e[n], "unit": u} for n, u, _ in END_TO_END}
    stamp = time.strftime("%Y%m%dT%H%M%S")
    (results / f"{args.workload}-trace{args.trace}-{stamp}-seed{args.seed}.json") \
        .write_text(json.dumps(record, indent=1, default=str))

    shown = {**e2e, **ungated, **named}
    units = {**{n: u for n, u, _ in END_TO_END}, **dict(UNGATED), **NAMED_UNITS}
    print(f"{args.workload} seed={args.seed} iterations={n_iter} "
          f"error_rate={record['error_rate']:.4g} "
          f"tails=p{tail_pct:.0f}/{n_iter} "
          + " ".join(f"{k}={v:.6g} {units[k]}" for k, v in shown.items()))
    if "tracing_overhead_s" in record:
        print(f"{args.workload} tracing_overhead_s={record['tracing_overhead_s']:.4g}")
    for p in wl.problems:
        print(f"{args.workload} MISMATCH {p}")
    print(json.dumps({"correct": wl.failed == 0, "attempted": wl.attempted,
                      "failed": wl.failed, "metrics": metrics}))
    return 0


def run_all(args) -> int:
    """Every workload in turn, each in its own process."""
    rc = 0
    for name in WORKLOAD_NAMES:
        out = subprocess.run(
            [sys.executable, str(Path(__file__).resolve()), "--workload", name,
             "--seed", str(args.seed), "--seconds", str(args.seconds),
             "--trace", str(args.trace)], cwd=ROOT, text=True, stdout=subprocess.PIPE)
        lines = out.stdout.strip().splitlines()
        print("\n".join(lines[:-1]), flush=True)
        rc = rc or out.returncode
    return rc


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOAD_NAMES + ("all",))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    return run_all(args) if args.workload == "all" else run_one(args)


if __name__ == "__main__":
    sys.exit(main())
