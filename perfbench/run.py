#!/usr/bin/env python3
"""Benchmark of sketch_spark: closed-loop workloads, one client, one process.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root.  Workloads (see BENCHMARK.json and
perfbench/README.md):

  dedup_mixed        DedupPipeline.run over the synth family mix + edit chains
  sketch_queries     twelve entry queries, each pass over a fresh table path

The inputs are generated from --seed (cached under .perfbench_work/cache).
After set-up and one untimed warm-up run, runs repeat back to back until
--seconds have passed (at least two runs).  With --trace 0 the last stdout
line carries the end-to-end metrics; with --trace 1 it carries the
per-layer metrics of a traced run (job-group-tagged stage calls from the
main thread, after the untraced runs) and the tracing overhead.
Human-readable lines go to stderr.
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import shutil
import statistics
import sys
import time

from common import RssPeak, log, metric

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
# workload name -> module
WORKLOADS = {"dedup_mixed": "wl_dedup", "sketch_queries": "wl_queries"}
DRIVER_MEM = "2g"
# timed runs per invocation at least, however long they take: when the
# shared host is slow, a run can outlast the window and would otherwise
# be the invocation's only sample
MIN_RUNS = 2


def process_start_time() -> float:
    """Wall-clock time this process started, from /proc."""
    try:
        with open("/proc/self/stat") as f:
            ticks = int(f.read().rsplit(")", 1)[1].split()[19])
        with open("/proc/stat") as f:
            btime = next(int(ln.split()[1]) for ln in f if ln.startswith("btime"))
        return btime + ticks / os.sysconf("SC_CLK_TCK")
    except (OSError, ValueError, StopIteration):
        return time.time()


def mem_available_mb() -> int:
    with open("/proc/meminfo") as f:
        for ln in f:
            if ln.startswith("MemAvailable:"):
                return int(ln.split()[1]) // 1024
    return -1


def wait_for_idle_cpu(max_wait: float = 10.0) -> float:
    """Wait (bounded) until the host's CPUs are >= 90% idle over half a
    second, so a previous process's shutdown does not overlap set-up.
    Returns the seconds waited."""
    def snapshot() -> tuple[int, int]:
        with open("/proc/stat") as f:
            v = [int(x) for x in f.readline().split()[1:]]
        return v[3] + v[4], sum(v)  # idle + iowait, total

    t0 = time.time()
    while time.time() - t0 < max_wait:
        i0, a0 = snapshot()
        time.sleep(0.5)
        i1, a1 = snapshot()
        if a1 > a0 and (i1 - i0) / (a1 - a0) >= 0.9:
            break
    return time.time() - t0


def pin_environment(work: str) -> dict:
    """Fix every knob the program reads from the environment, so two runs
    (and two commits) see the same settings whatever the host's state."""
    ncpu = len(os.sched_getaffinity(0))
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = {
        "SPARK_GRAFT_CPUS": str(ncpu),
        # get_spark pins and pre-touches the heap only when MemAvailable
        # allows it, which can flip between runs; pin both.  A fixed,
        # pre-touched 2 GiB heap keeps first-touch page faults out of the
        # timed runs and the JVM's RSS steady (the inputs need far less)
        "SPARK_DRIVER_MEM": DRIVER_MEM,
        "SPARK_GRAFT_PRETOUCH": "1",
        # shuffle/spill on disk inside the checkout, not /dev/shm (which
        # shares the host's RAM)
        "SPARK_GRAFT_LOCAL_DIR": os.path.join(work, "spark-local"),
        "SPARK_GRAFT_STAGE_DIR": os.path.join(work, "stage"),
        "TMPDIR": tmp,
        # the JVM's temp dir (native-library extraction) and no hsperfdata
        # file in /tmp, via the launcher's options, so
        # spark.driver.extraJavaOptions stays get_spark's (the heap pin)
        "SPARK_SUBMIT_OPTS": f"{os.environ.get('SPARK_SUBMIT_OPTS', '')} -Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "PYTHONPATH": ROOT + os.pathsep + os.environ.get("PYTHONPATH", ""),
    }
    os.environ.update(env)
    return {**env, "ncpu": ncpu}


def start_spark(ncpu: int, work: str):
    from sketch_spark import get_spark

    return get_spark(
        "perfbench",
        master=f"local[{ncpu}]",
        shuffle_partitions=2 * ncpu,
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        },
    )


def stop_spark(spark) -> None:
    """Stop the session and wait for the gateway JVM to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    spark.stop()
    proc = getattr(gw, "proc", None)
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        try:
            proc.stdin.close()
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001 - best effort, then kill
            proc.kill()
            proc.wait(timeout=10)


def check_metric_names(metrics: dict, trace: bool, unused_layers: tuple) -> None:
    """Every metric named in BENCHMARK.json for this mode, and no other.
    Per-layer metrics of layers the workload does not run are set to 0."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    want = {m["name"]: m["unit"] for m in spec["per_layer" if trace else "end_to_end"]}
    if trace:
        for name, unit in want.items():
            if name.split(".")[0] in unused_layers:
                metrics.setdefault(name, metric(0, unit))
    got = {k: v["unit"] for k, v in metrics.items()}
    if want != got:
        missing = sorted(set(want) - set(got))
        extra = sorted(set(got) - set(want))
        units = sorted(k for k in set(want) & set(got) if want[k] != got[k])
        raise SystemExit(
            f"metric set differs from BENCHMARK.json: missing={missing} "
            f"extra={extra} unit-mismatch={units}"
        )


def measure(w, spark, seconds: float, trace: bool, start_s: float, spans_path: str) -> dict:
    """The closed loop shared by every workload: set-up, one untimed
    warm-up run (JIT, codegen, Python workers, AQE's plans for this input
    size), then runs back to back until `seconds` have passed and at least
    MIN_RUNS have run.  In trace mode the run after those is traced."""
    from spans import Tracer

    load_s = w.setup()
    t0 = time.perf_counter()
    warm = w.run(None)
    warmup_s = time.perf_counter() - t0
    attempted, failed = warm.attempted, warm.failed
    setup_s = start_s + load_s + warmup_s
    log(f"warm-up run {warm.wall:.3f}s: {warm.note}")
    log(f"setup: start {start_s:.2f}s + load {load_s:.2f}s + warm-up {warmup_s:.2f}s "
        f"-> setup_s {setup_s:.2f}")

    walls, peaks, recalls, precisions = [], [], [], []
    tracer = traced = None
    errors = 0
    jvm_pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    deadline = time.perf_counter() + seconds
    while (len(walls) < MIN_RUNS or time.perf_counter() < deadline
           or (trace and traced is None)):
        do_trace = trace and traced is None and len(walls) >= MIN_RUNS
        try:
            if do_trace:
                tracer = Tracer(spark.sparkContext, "traced")
                r = w.run(tracer)
            else:
                with RssPeak(jvm_pid) as rss:
                    r = w.run(None)
        except Exception as e:  # noqa: BLE001 - a failed run is counted, not fatal
            log(f"run raised {type(e).__name__}: {e}")
            attempted, failed, errors = attempted + 1, failed + 1, errors + 1
            if errors >= 3:
                break
            continue
        attempted, failed = attempted + r.attempted, failed + r.failed
        log(f"run {len(walls) + 1 + (traced is not None)}{' traced' if do_trace else ''}: "
            f"{r.wall:.3f}s {r.note}")
        if do_trace:
            traced = r
        else:
            walls.append(r.wall)
            peaks.append(rss.peak_bytes)
            recalls.append(r.recall)
            precisions.append(r.precision)
    if not walls or (trace and traced is None):
        raise SystemExit("no run completed")

    run_s = statistics.median(walls)
    log(f"run_s = median of {len(walls)} timed runs {[round(x, 3) for x in walls]}")
    log(f"checked outputs attempted={attempted} failed={failed} "
        f"failed_frac={failed / attempted:.4f}")
    if trace:
        tracer.harvest()
        tracer.write(spans_path)
        out = {
            "session.start_s": (start_s, "s"),
            "session.warmup_s": (warmup_s, "s"),
            "trace.overhead_ratio": (traced.wall / run_s, "ratio"),
            **w.layer_metrics(tracer, run_s),
        }
        metrics = {k: metric(v, u) for k, (v, u) in out.items()}
    else:
        metrics = {
            "run_s": metric(run_s, "s"),
            "items_per_s": metric(w.items / run_s, "1/s"),
            "setup_s": metric(setup_s, "s"),
            "peak_rss_mb": metric(statistics.median(peaks) / 2**20, "MB"),
            "recall": metric(statistics.median(recalls), "ratio"),
            "precision": metric(statistics.median(precisions), "ratio"),
            "ok_frac": metric(1.0 - failed / attempted, "ratio"),
        }
    return {"correct": failed == 0, "attempted": attempted, "failed": failed,
            "metrics": metrics}


def main() -> int:
    t_proc = process_start_time()
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "tiny"), default="full",
                    help="tiny: the self-check's miniature inputs")
    args = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "sketch_spark")):
        print(f"sketch_spark package not found under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)

    work = os.path.join(ROOT, ".perfbench_work")
    run_dir = os.path.join(work, f"run_{os.getpid()}")
    os.makedirs(run_dir, exist_ok=True)
    env = pin_environment(work)
    waited = wait_for_idle_cpu()
    load1 = os.getloadavg()[0]
    log(f"idle wait {waited:.1f}s; env nproc={env['ncpu']} mem_available_mb={mem_available_mb()} "
        f"load1={load1:.2f} driver_mem={DRIVER_MEM} local[{env['ncpu']}] "
        f"workload={args.workload} seed={args.seed} seconds={args.seconds} "
        f"trace={args.trace} size={args.size}")

    mod = importlib.import_module(WORKLOADS[args.workload])
    t0 = time.time()
    src = mod.inputs(os.path.join(work, "cache"), args.seed, args.size)
    gen_s = time.time() - t0
    log(f"inputs ready in {gen_s:.2f}s (generation and the idle wait are excluded from setup_s)")

    spark = start_spark(env["ncpu"], work)
    try:
        start_s = time.time() - t_proc - gen_s - waited
        log(f"session started: {start_s:.2f}s after process start")
        w = mod.Workload(spark, src, run_dir, env["ncpu"])
        result = measure(w, spark, args.seconds, bool(args.trace), start_s,
                         os.path.join(work, "spans", f"{args.workload}.json"))
    finally:
        stop_spark(spark)
        shutil.rmtree(run_dir, ignore_errors=True)

    check_metric_names(result["metrics"], bool(args.trace), mod.UNUSED_LAYERS)
    for k, v in result["metrics"].items():
        log(f"{args.workload} {k} = {v['value']} {v['unit']}")
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
