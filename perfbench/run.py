#!/usr/bin/env python3
"""The engine benchmark: one command per workload and seed.

    python3 perfbench/run.py --workload cdc_drain --seed 1 --seconds 10 --trace 0

Builds its inputs from ``--seed``, starts the production session
(``cdc_worker_spark.session.get_spark``, heap fixed at JVM launch, C1 JIT
only), runs one streaming query whose first micro-batches warm up and whose
next ones, about ``--seconds`` of them, are the measured window, and checks
every output against an independent oracle (``perfbench/gen.py``). It prints
one line per metric and, last, one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``: the end-to-end metrics of
``BENCHMARK.json`` with ``--trace 0``, its per-layer metrics with
``--trace 1``.

``--trace 1`` traces the measured window (spans around calls into
``cdc_worker_spark`` from these files, plus Spark's progress and status
counters), measures an untraced window of the same length right after it,
reports traced minus untraced as the tracing overhead and writes spans, self
times and the run's stamp to ``perfbench/results/``. On ``cdc_drain`` it also
records a ``local[1]`` run as the single-thread baseline. A correctness
mismatch is counted as a failed operation and the exit code is 1. Everything
is read and written inside the checkout.
"""

from __future__ import annotations

import time

T_IMPORT = time.time()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import platform  # noqa: E402
import resource  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import uuid  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)


def process_start() -> float:
    """Epoch seconds at which this process started (kernel clock ticks)."""
    try:
        with open("/proc/self/stat") as fh:
            ticks = int(fh.read().rsplit(")", 1)[1].split()[19])
        with open("/proc/stat") as fh:
            btime = next(int(line.split()[1]) for line in fh if line.startswith("btime"))
        return btime + ticks / os.sysconf("SC_CLK_TCK")
    except (OSError, ValueError, StopIteration):
        return T_IMPORT


def heap_mb() -> int:
    """A quarter of physical memory, capped at 4 GiB."""
    with open("/proc/meminfo") as fh:
        total_kb = next(int(line.split()[1]) for line in fh if line.startswith("MemTotal"))
    return max(1024, min(4096, total_kb // 1024 // 4))


def configure_env(work: str) -> None:
    """Keep every file Spark, the JVM and Python write inside ``work``."""
    import tempfile

    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = None
    os.environ["SPARK_LOCAL_DIRS"] = local
    # Python workers import the engine from the checkout, wherever they start
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    # every JVM (the launcher and the driver): no /tmp/hsperfdata, temp files
    # in work, and the C1 JIT only: a run is one short-lived JVM, and with C2
    # a micro-batch keeps getting faster for a minute or more (6-10 batches),
    # so whatever window a run can afford sits on that curve and moves with
    # the host's load; C1 code reaches its plateau after one micro-batch
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-XX:-UsePerfData -Djava.io.tmpdir={tmp} -XX:TieredStopAtLevel=1")
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--driver-memory {heap_mb()}m "
        "--conf spark.ui.showConsoleProgress=false "
        "--conf spark.ui.retainedJobs=100000 --conf spark.ui.retainedStages=100000 "
        "--conf spark.sql.ui.retainedExecutions=100000 "
        f"--conf spark.sql.warehouse.dir={os.path.join(work, 'warehouse')} "
        "pyspark-shell"
    )


def stamp(spark) -> dict:
    commit = "unknown"  # a checkout without .git
    if os.path.isdir(os.path.join(ROOT, ".git")):
        try:
            commit = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                                    text=True, timeout=10).stdout.strip() or commit
        except (OSError, subprocess.SubprocessError):
            pass
    jvm = spark._jvm
    return {
        "git_commit": commit,
        "nproc": len(os.sched_getaffinity(0)),
        "spark_master": spark.sparkContext.master,
        "heap_mb": int(jvm.java.lang.Runtime.getRuntime().maxMemory()) // 2 ** 20,
        "spark": spark.version,
        "java": jvm.java.lang.System.getProperty("java.version"),
        "python": platform.python_version(),
    }


def jvm_peak_rss_mb(spark) -> float:
    pid = int(spark._jvm.java.lang.ProcessHandle.current().pid())
    with open(f"/proc/{pid}/status") as fh:
        kb = next(int(line.split()[1]) for line in fh if line.startswith("VmHWM"))
    return kb / 1024


def running(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(")", 1)[1].split()[0] != "Z"
    except (OSError, IndexError):
        return False


def await_exit(pids: list[int], timeout: float = 20.0) -> None:
    """Wait until every process in ``pids`` has ended; kill what lingers."""
    deadline = time.time() + timeout
    alive = list(pids)
    while alive:
        alive = [p for p in alive if running(p)]
        if not alive:
            return
        if time.time() > deadline:
            for p in alive:
                try:
                    os.kill(p, signal.SIGKILL)
                except OSError:
                    pass
            deadline = time.time() + timeout
        time.sleep(0.1)


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM it launched, and every process
    the JVM started (Python workers), to exit."""
    from pyspark import SparkContext

    from perfbench.trace import descendants

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spawned = descendants(os.getpid())
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    await_exit(spawned)


def load_contract() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def fmt(v: float) -> str:
    return f"{v:.6g}"


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    t_proc = process_start()

    try:
        contract = load_contract()
        import pyspark  # noqa: F401

        from cdc_worker_spark.session import get_spark
        from perfbench.trace import Tracer
        from perfbench.workloads import WORKLOADS
    except (ImportError, OSError) as exc:
        print(f"perfbench: cannot load the engine or the contract: {exc}", file=sys.stderr)
        return 2
    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2

    run_id = uuid.uuid4().hex[:12]
    work = os.path.join(HERE, ".work", f"{args.workload}-{run_id}")
    try:
        return run_workload(args, contract, WORKLOADS[args.workload], get_spark, Tracer,
                            work, run_id, t_proc)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def run_workload(args, contract, workload, get_spark, Tracer, work: str, run_id: str,
                 t_proc: float) -> int:
    configure_env(work)
    wl = workload(work, args.seed, args.seconds, bool(args.trace))
    spark = None
    baseline = None
    try:
        t = time.time()
        wl.generate()
        gen_s = time.time() - t

        t = time.time()
        spark = get_spark(f"perfbench-{args.workload}")
        spark.sparkContext.setLogLevel("ERROR")
        spark.conf.set("spark.sql.streaming.numRecentProgressUpdates", "10000")
        t_session = time.time()
        jvm_start_s = t_session - t

        tracer = Tracer(run_id) if args.trace else None
        # one query: its first micro-batches warm up, then the measured
        # window; a traced run traces that window and measures an untraced
        # one right after it
        run = wl.measure(spark, tracer)
        setup_s = run.ready - t_proc - gen_s
        run_stamp = stamp(spark)
        peak_rss_mb = jvm_peak_rss_mb(spark) + resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024
        if args.trace and args.workload == "cdc_drain":
            # single-thread baseline: the same JVM, restarted on local[1]
            spark.stop()
            os.environ["SPARK_GRAFT_CPUS"] = "1"
            spark = get_spark(f"perfbench-{args.workload}-local1")
            spark.sparkContext.setLogLevel("ERROR")
            baseline = wl.baseline(spark)
    finally:
        if spark is not None:
            stop_spark(spark)

    e2e = {"setup_s": setup_s, **run.e2e}
    print(f"# {args.workload} seed={args.seed} seconds={args.seconds} trace={args.trace} "
          + " ".join(f"{k}={v}" for k, v in run_stamp.items()))
    for name, ok, msg in run.checks:
        print(f"check {'PASS' if ok else 'FAIL'} {name}: {msg}")
    print(f"detail {json.dumps(run.detail)}")
    correct = run.correct
    if not correct:
        print(json.dumps({"correct": False, "attempted": run.ops, "failed": max(1, run.failed_ops),
                          "metrics": {}}))
        return 1
    fresh = run.detail.get("freshness_s", {})
    units = {m["name"]: m["unit"] for m in contract["end_to_end"] + contract["per_layer"]}
    for name, v in e2e.items():
        # wall-clock figures are per-layer metrics (see README)
        kind = "e2e" if name in {m["name"] for m in contract["end_to_end"]} else "wall"
        line = f"{kind} {name} = {fmt(v)} {units.get(name) or units.get('wall.' + name, '')}"
        if name.startswith("freshness") and fresh.get("n"):
            tail = f", p{fresh['tail_p']:g} {fmt(fresh['tail'])} s" if "tail_p" in fresh else ""
            line += f" (median {fmt(fresh['median'])} s{tail}, n={fresh['n']} records)"
        elif name in ("records_per_s", "wire_mb_s") and "window_batches" in run.detail:
            line += f" (median of n={run.detail['window_batches']} micro-batches)"
        elif name == "cpu_ms_per_record":
            line += " (whole measured window)"
        else:
            line += " (n=1)"
        print(line)

    if args.trace:
        layers = {"session.jvm_start_s": jvm_start_s, "session.warmup_s": run.ready - t_session,
                  "session.peak_rss_mb": peak_rss_mb, **run.layers}
        layers.update({f"wall.{k}": v for k, v in run.e2e.items() if k != "cpu_ms_per_record"})
        for k, v in run.e2e.items():
            layers[f"overhead.{k}"] = v - run.untraced[k]
        wall = layers.get("exec.stage_s", 0.0) + layers.get("exec.driver_s", 0.0)
        if wall:
            layers["exec.stage_share"] = layers.get("exec.stage_s", 0.0) / wall
        self_times = tracer.self_times()
        os.makedirs(os.path.join(HERE, "results"), exist_ok=True)
        artifact = os.path.join(HERE, "results", f"trace-{args.workload}-seed{args.seed}-{run_id}.json")
        with open(artifact, "w") as fh:
            json.dump({"stamp": run_stamp, "workload": args.workload, "seed": args.seed,
                       "seconds": args.seconds, "run_id": run_id,
                       "e2e_traced": run.e2e, "e2e_untraced_after": run.untraced, "layers": layers,
                       "self_time_s": self_times, "detail": run.detail,
                       "baseline_local1": baseline, "spans": tracer.dump()}, fh, indent=1)
        for k in sorted(self_times):
            print(f"self {k} = {fmt(self_times[k])} s")
        if baseline is not None:
            print(f"baseline local[1] cdc_drain: {json.dumps(baseline)}")
        print(f"trace written to {os.path.relpath(artifact, ROOT)}")
        metrics = {}
        for m in contract["per_layer"]:
            v = float(layers.get(m["name"], 0.0))
            metrics[m["name"]] = {"value": v, "unit": m["unit"]}
            print(f"layer {m['name']} = {fmt(v)} {m['unit']}")
    else:
        metrics = {m["name"]: {"value": float(e2e[m["name"]]), "unit": m["unit"]}
                   for m in contract["end_to_end"]}
    print(json.dumps({"correct": True, "attempted": run.ops, "failed": run.failed_ops,
                      "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
