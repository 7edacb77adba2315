"""Host-local benchmark for timeperiods_spark.

Run from the root of a checkout of the repository:

    python3 perfbench/run.py --workload interval_core --seed 1 --seconds 10 --trace 0

Workloads: interval_core and tiers (see NOTES.md). Each is a closed
loop with one client: one driver thread issues every public call after
the previous one returned, against one ``local[nproc]`` session built
with ``get_spark`` that lives for the whole run. Set-up (session start,
inputs and expected results, the untimed warm-up passes) is timed as
``setup_s``; then passes run until ``--seconds`` have passed, and at
least the workload's ``min_passes``. Every call's output is checked.

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` reads each
call's Spark jobs from the status store, prints the per-call layer
table and the per-layer metrics, and pairs every traced pass with an
untraced one to report the tracing overhead. ``--smoke`` runs tiny
inputs. The last stdout line is one JSON object: ``{"correct",
"attempted", "failed", "metrics"}``; the exit code is 1 when a check
failed and 2 when the benchmark cannot run.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))

#: per-call counters kept per layer; the ones that read zero on every
#: workload are left out (spill_mb everywhere; the Spark counters of
#: the pure file-system catalog calls)
_SPARK = ("spark_jobs", "stages", "tasks", "task_s", "cpu_s", "gc_s",
          "offcpu_s", "driver_s", "shuffle_write_mb")
LAYER_COUNTERS = {
    "interval_avg.grouped": ("wall_s", *_SPARK, "input_mb"),
    "interval_avg.bin": ("wall_s", *_SPARK, "input_mb"),
    "overlaps.remove_overlaps": ("wall_s", *_SPARK, "input_mb"),
    "continuous.ingest_batch": ("wall_s", *_SPARK, "output_mb"),
    "catalog.compact": ("wall_s", *_SPARK, "input_mb", "output_mb"),
    "catalog.expire": ("wall_s",),
    "catalog.vacuum": ("wall_s",),
    "catalog.read_finished": ("wall_s", *_SPARK, "input_mb"),
    "rollup.gap_fill_locf": ("wall_s", *_SPARK, "input_mb"),
    "compression.compress_series": ("wall_s", *_SPARK, "input_mb", "python_mb"),
    "compression.decompress_series": ("wall_s", *_SPARK, "python_mb"),
    "dedup.minhash_dedup": ("wall_s", *_SPARK, "input_mb"),
}
SESSION_METRICS = {"session.start_s": "s", "session.inputs_s": "s",
                   "session.warmup_s": "s"}
STATE_METRICS = {"catalog.files": "count", "catalog.bytes": "B",
                 "catalog.deltas": "count", "cache.disk_mb": "MB",
                 "trace.overhead_s": "s"}


def unit_of(counter: str) -> str:
    if counter.endswith("_s"):
        return "s"
    if counter.endswith("_mb"):
        return "MB"
    return "count"


def layer_metric_names() -> dict[str, str]:
    """Every per-layer metric printed with ``--trace 1``, with its unit."""
    names = {f"{op}.{c}": unit_of(c) for op, cs in LAYER_COUNTERS.items() for c in cs}
    names.update(SESSION_METRICS)
    names.update(STATE_METRICS)
    return names


def host_session_conf() -> dict:
    """Session sizing derived from the host: ``local[nproc]`` and a driver
    heap of a quarter of MemTotal, between 1 and 4 GiB."""
    nproc = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as fh:
        mem_kb = next(int(ln.split()[1]) for ln in fh if ln.startswith("MemTotal:"))
    heap_mb = max(1024, min(4096, mem_kb // 1024 // 4))
    return {"nproc": nproc, "master": f"local[{nproc}]",
            "driver_memory": f"{heap_mb}m", "shuffle_partitions": max(nproc, 8),
            "mem_total_mb": mem_kb // 1024}


def _hwm_mb(pid: int) -> float:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for ln in fh:
                if ln.startswith("VmHWM:"):
                    return int(ln.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


def _stop_jvm(spark, proc) -> None:
    """Stop the session, end the gateway JVM and wait for it: it exits
    when its stdin closes; kill it if it has not after 30 s."""
    if spark is not None:
        gateway = spark.sparkContext._gateway
        try:
            spark.stop()
            gateway.shutdown()
        except Exception as exc:  # the JVM is already gone
            print(f"perfbench: stopping the session: {exc}", file=sys.stderr)
    if proc is None:
        return
    try:
        proc.stdin.close()
    except OSError:
        pass
    try:
        proc.wait(timeout=30)
    except Exception:
        proc.kill()
        proc.wait(timeout=30)


def print_table(records) -> None:
    """Print every traced call, warm-up included, as ``[layers]`` lines
    of tab-separated values."""
    from sparkmeter import COUNTERS

    head = ["op", "pos", "phase", *COUNTERS, "python_mb", "cache.disk_mb"]
    lines = ["\t".join(head)]
    for r in records:
        row = [r.op, str(r.position), r.phase]
        row += [f"{r.counters[c]:.4f}" for c in COUNTERS]
        row += [f"{r.extra.get('python_mb', 0.0):.4f}",
                f"{r.extra.get('cache.disk_mb', 0.0):.4f}"]
        lines.append("\t".join(row))
    for ln in lines:
        print("[layers] " + ln)


def run(args) -> int:
    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "timeperiods_spark", "__init__.py")):
        print("perfbench: run from the root of a timeperiods_spark checkout "
              "(no timeperiods_spark/ here)", file=sys.stderr)
        return 2
    sys.path.insert(0, root)
    sys.path.insert(0, HERE)
    from workloads import SIZES, SMOKE_SIZES, WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; have "
              f"{sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    base_tmp = os.path.join(root, ".perfbench_tmp")
    os.makedirs(base_tmp, exist_ok=True)
    tmp = tempfile.mkdtemp(prefix=f"{args.workload}-", dir=base_tmp)
    conf = host_session_conf()
    for sub in ("local", "tmp", "data"):
        os.makedirs(os.path.join(tmp, sub))
    # everything Spark, the JVM and Python workers write goes under tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(tmp, "local")
    os.environ["TMPDIR"] = os.path.join(tmp, "tmp")
    tempfile.tempdir = None
    print("[session] " + json.dumps(conf))
    proc = spark = None
    try:
        from timeperiods_spark.session import get_spark

        from sparkmeter import SparkMeter

        t0 = time.perf_counter()
        spark = get_spark(
            "perfbench", master=conf["master"],
            shuffle_partitions=conf["shuffle_partitions"],
            driver_memory=conf["driver_memory"],
            extra_conf={
                "spark.driver.extraJavaOptions": "-XX:+UseParallelGC -XX:-UsePerfData "
                f"-Djava.io.tmpdir={os.path.join(tmp, 'tmp')}",
                "spark.local.dir": os.path.join(tmp, "local"),
                "spark.sql.warehouse.dir": os.path.join(tmp, "warehouse"),
                # per-call attribution reads every job and stage back
                "spark.ui.retainedJobs": "100000",
                "spark.ui.retainedStages": "100000",
                "spark.sql.ui.retainedExecutions": "100000",
                "spark.ui.showConsoleProgress": "false",
            })
        proc = getattr(spark.sparkContext._gateway, "proc", None)
        start_s = time.perf_counter() - t0
        meter = SparkMeter(spark, enabled=bool(args.trace))
        sizes = (SMOKE_SIZES if args.smoke else SIZES)[args.workload]
        wl = WORKLOADS[args.workload](spark, meter, args.seed, sizes,
                                      os.path.join(tmp, "data"))
        t1 = time.perf_counter()
        wl.setup_inputs()
        inputs_s = time.perf_counter() - t1
        if args.corrupt:
            wl.corrupt()
        t2 = time.perf_counter()
        wl.phase = "warmup"
        for _ in range(wl.warmup_passes):
            wl.run_pass()
        warmup_s = time.perf_counter() - t2
        setup_s = start_s + inputs_s + warmup_s

        walls, items = [], 0
        # a traced run follows every traced pass with an untraced one and
        # compares their whole pass walls (checks and collection in)
        whole = {True: [], False: []}
        t3 = time.perf_counter()
        while len(walls) < wl.min_passes or time.perf_counter() - t3 < args.seconds:
            for traced in (True, False) if args.trace else (False,):
                meter.enabled = traced
                wl.phase = "untraced" if args.trace and not traced else "timed"
                wl.call_s = 0.0
                p0 = time.perf_counter()
                items = wl.run_pass()
                whole[traced].append(time.perf_counter() - p0)
                if wl.phase == "timed":
                    # a pass takes the time spent inside the public calls;
                    # the benchmark's own checks between calls are out
                    walls.append(wl.call_s)
        pass_s = statistics.median(walls)
        attempted, failed = wl.attempted, wl.failed
        rss = max(_hwm_mb(os.getpid()), _hwm_mb(proc.pid) if proc else 0.0)

        report = {
            "passes": len(walls), "pass_s": [round(w, 4) for w in walls],
            "setup_s": round(setup_s, 4), "start_s": round(start_s, 4),
            "inputs_s": round(inputs_s, 4), "warmup_s": round(warmup_s, 4),
            "items_per_s": round(items / pass_s, 2),
            "error_rate": failed / attempted,
            "peak_rss_mb": round(rss, 1),
        }
        if wl.latencies_s:
            report["query_p50_ms"] = 1e3 * statistics.median(wl.latencies_s)
            report["query_p90_ms"] = 1e3 * statistics.quantiles(wl.latencies_s, n=10)[-1]
            report["query_samples"] = len(wl.latencies_s)
        if getattr(wl, "store_bytes_per_point", None):
            report["store_bytes_per_point"] = statistics.median(wl.store_bytes_per_point)
        print(f"[result] {args.workload} " + json.dumps(report))

        if args.trace:
            print_table(meter.records)
            metrics = layer_metrics(meter.records, wl, start_s, inputs_s, warmup_s)
            metrics["trace.overhead_s"] = {
                "value": statistics.median(whole[True]) - statistics.median(whole[False]),
                "unit": "s"}
        else:
            metrics = {
                "setup_s": {"value": setup_s, "unit": "s"},
                "items_per_s": {"value": items / pass_s, "unit": "1/s"},
                "peak_rss_mb": {"value": rss, "unit": "MB"},
            }
        result = {"correct": failed == 0, "attempted": attempted,
                  "failed": failed, "metrics": metrics}
    finally:
        try:
            _stop_jvm(spark, proc)
        finally:
            shutil.rmtree(tmp, ignore_errors=True)
    print(json.dumps(result), flush=True)
    return 0 if result["correct"] else 1


def layer_metrics(records, wl, start_s, inputs_s, warmup_s) -> dict:
    """Median over the timed calls of each op; 0 for ops this workload
    does not call."""
    out = {}
    timed = [r for r in records if r.phase == "timed"]
    for op, counters in LAYER_COUNTERS.items():
        mine = [r for r in timed if r.op == op]
        for c in counters:
            vals = [r.extra.get(c, 0.0) if c == "python_mb" else r.counters[c]
                    for r in mine]
            out[f"{op}.{c}"] = {"value": statistics.median(vals) if vals else 0.0,
                                "unit": unit_of(c)}
    for name, v in (("session.start_s", start_s), ("session.inputs_s", inputs_s),
                    ("session.warmup_s", warmup_s)):
        out[name] = {"value": v, "unit": "s"}
    for name in ("catalog.files", "catalog.bytes", "catalog.deltas"):
        out[name] = {"value": wl.catalog_state.get(name, 0.0),
                     "unit": STATE_METRICS[name]}
    out["cache.disk_mb"] = {"value": max([r.extra.get("cache.disk_mb", 0.0)
                                          for r in records] or [0.0]), "unit": "MB"}
    return out


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true", help="tiny inputs")
    ap.add_argument("--corrupt", action="store_true",
                    help="perturb one expected value (the checks must fail)")
    # a terminated run still stops its JVM and removes its temp dir
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    return run(ap.parse_args(argv))


if __name__ == "__main__":
    sys.exit(main())
