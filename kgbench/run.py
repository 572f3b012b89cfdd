"""Benchmark entry point.

    python3 kgbench/run.py --workload build|append --seed N --seconds S --trace 0|1

Run from the repository root. Prints progress on stderr and, as the last
line of stdout, one JSON object: ``correct``, ``attempted``, ``failed``
and ``metrics`` (the end-to-end metrics with ``--trace 0``, the per-layer
metrics with ``--trace 1``). Everything the run writes (inputs, stores,
Spark local dirs, JVM temp files, the event log) lives under
``.kgbench_run/`` in the working directory and is removed at the end.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def log(msg: str) -> None:
    print(f"[kgbench] {msg}", file=sys.stderr, flush=True)


def _driver_memory_mb() -> int:
    with open("/proc/meminfo") as f:
        total_kb = int(f.readline().split()[1])
    return min(2048, total_kb // 1024 // 3)


def start_spark(scratch: str, trace: bool):
    from hbase_rdf_spark.session import get_spark

    dirs = {k: os.path.join(scratch, k) for k in ("local", "tmp", "events")}
    for d in dirs.values():
        os.makedirs(d, exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = dirs["local"]
    os.environ["TMPDIR"] = dirs["tmp"]
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = f"{_driver_memory_mb()}m"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    cpus = len(os.sched_getaffinity(0))
    heap = os.environ["SPARK_GRAFT_DRIVER_MEM"]
    conf = {
        "spark.local.dir": dirs["local"],
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={dirs['tmp']} -XX:-UsePerfData "
            # a fixed, pre-touched heap: its resident size no longer
            # depends on when the collector chose to grow it
            f"-Xms{heap} -XX:+AlwaysPreTouch "
            # compiler threads live for the whole run, so their CPU can
            # be read per thread and left out of cpu_ms_per_kquad
            "-XX:-UseDynamicNumberOfCompilerThreads",
        "spark.sql.warehouse.dir": os.path.join(scratch, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + dirs["events"],
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    spark = get_spark(app_name="kgbench", master=f"local[{cpus}]",
                      shuffle_partitions=max(cpus, 8), extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark, dirs["events"]


def end_to_end(w, session_s: float, peak_rss: int) -> dict:
    ops = w.ops
    by_class: dict[str, list[float]] = {}
    for o in ops:
        for q, lat, _, _ in o.reads:
            by_class.setdefault(q.cls, []).append(lat)
    return {
        "setup_s": (session_s + w.setup_s, "s"),
        "quads_per_s": (statistics.median(o.quads / o.wall_s for o in ops),
                        "1/s"),
        "cpu_ms_per_kquad": (statistics.median(
            o.cpu_s * 1e6 / o.quads for o in ops), "ms"),
        # each class weighs the same, however its latencies interleave
        "read_p50_ms": (statistics.fmean(
            statistics.median(v) for v in by_class.values()) * 1000
            if by_class else 0.0, "ms"),
        "peak_rss_mb": (peak_rss / 2**20, "MB"),
        "store_bytes_per_quad": (statistics.median(
            o.store_bytes / o.store_quads for o in ops), "B"),
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    try:
        import hbase_rdf_spark  # noqa: F401 - the engine under test
    except ImportError as ex:
        log(f"engine package not found next to the benchmark: {ex}")
        return 2
    from kgbench import procs, report, trace
    from kgbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        log(f"unknown workload {args.workload!r}; choose from {sorted(WORKLOADS)}")
        return 2
    scratch = os.path.join(
        os.getcwd(), ".kgbench_run", f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(scratch)
    spark = w = None
    try:
        with procs.RssSampler(os.getpid()) as rss:
            t0 = time.perf_counter()
            spark, events = start_spark(scratch, bool(args.trace))
            session_s = time.perf_counter() - t0
            tracer = None
            if args.trace:
                tracer = trace.Tracer(spark.sparkContext)
                trace.install(tracer)
            w = WORKLOADS[args.workload](spark, scratch, args.seed, tracer)
            log(f"session up in {session_s:.1f}s; setting up {args.workload}")
            w.setup()
            log(f"set-up: prepare {[round(x, 2) for x in w.prep_walls]}, "
                f"warm-up writes {[round(x, 2) for x in w.warm_walls]}")
            overhead0 = tracer.overhead_s if tracer else 0.0
            t_window = time.perf_counter()
            w.measure(args.seconds, min_rounds=2)
            window_s = time.perf_counter() - t_window
            layer_extra = report.untimed_extras(w) if tracer else {}
            log(f"{len(w.ops)} ops, walls {[round(o.wall_s, 2) for o in w.ops]}, "
                f"cpu {[round(o.cpu_s, 1) for o in w.ops]}, "
                f"worker cpu {[round(o.worker_cpu_s, 1) for o in w.ops]}, "
                f"jit cpu {[round(o.jit_cpu_s, 1) for o in w.ops]}, "
                f"reads {[round(r[1], 2) for o in w.ops for r in o.reads]}, "
                f"window {window_s:.1f}s")
            w.close()
            w.closed = True
            procs.stop_spark(spark)
            spark = None
        if w.problems:
            for p in w.problems[:20]:
                log(f"CHECK FAILED: {p}")
        if args.trace:
            metrics = report.per_layer(
                w, tracer, trace.read_event_log(events),
                tracer.overhead_s - overhead0, window_s, layer_extra)
        else:
            metrics = end_to_end(w, session_s, rss.peak)
        out = {
            "correct": not w.problems and w.failed == 0,
            "attempted": w.attempted,
            "failed": w.failed,
            "metrics": {k: {"value": v, "unit": u}
                        for k, (v, u) in metrics.items()},
        }
    except Exception:  # noqa: BLE001 - report and exit non-zero
        traceback.print_exc()
        return 1
    finally:
        if w is not None and not getattr(w, "closed", False):
            w.close()
        if spark is not None:
            try:
                procs.stop_spark(spark)
            except Exception:  # noqa: BLE001
                traceback.print_exc()
        shutil.rmtree(scratch, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(scratch))
        except OSError:
            pass
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    sys.exit(main())
