"""The benchmark's workloads: inputs, one measured query run, checks.

Each workload builds its inputs from the seed and runs one streaming query:
its first ``WARM_BATCHES`` micro-batches warm up, the next ones are the
measured window. ``measure`` returns the window's metrics, the per-layer
metrics (span-derived ones only when a tracer is installed) and the
correctness checks of the whole run.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import subprocess
import sys
import time
from dataclasses import dataclass, field

from perfbench import gen
from perfbench.stats import percentile, summarize
from perfbench.trace import SparkStatus, Tracer, progress_end, tree_cpu_s

#: micro-batches before the measured window: the cold first one, and the
#: second, still 15-30% slower than the rest even with the C1 JIT
WARM_BATCHES = 2
#: events per backlog file on ``cdc_drain``; one file per micro-batch
DRAIN_FILE_EVENTS = 400
#: the measured ``cdc_drain`` window holds ``round(--seconds / DRAIN_BATCH_S)``
#: micro-batches, at least 2; a warm one takes 8-10 s at local[4] on a
#: 4-vCPU, 15 GB VM, so the window runs longer than ``--seconds``
DRAIN_BATCH_S = 6
#: sustained local[4] Avro-wire rate measured on a 4-vCPU, 15 GB VM
#: (events/s): a paced run offered 500 events/s committed 5000 events in
#: 18.8 s with a growing backlog
AVRO_DRAIN_EVENTS_PER_S = 265
#: the paced generator offers half of it
PACED_EVENTS_PER_S = AVRO_DRAIN_EVENTS_PER_S / 2
PACED_INTERVAL_S = 0.25
#: the paced schedule's hard cap, far past any warm-up plus window
PACED_MAX_S = 120

TIMEOUT_S = 150


@dataclass
class Pass:
    """Outcome of one run of a workload's query."""

    #: the measured window (traced when tracing)
    e2e: dict[str, float]
    layers: dict[str, float]
    ops: int
    failed_ops: int
    #: epoch seconds at which the last warm-up micro-batch committed
    ready: float
    checks: list[tuple[str, bool, str]] = field(default_factory=list)
    detail: dict = field(default_factory=dict)
    #: a traced run's untraced window, measured right after the traced one
    untraced: dict[str, float] | None = None

    @property
    def correct(self) -> bool:
        return all(ok for _, ok, _ in self.checks)


def write_files(directory: str, blobs: list[bytes]) -> None:
    """Write the files with modification times one second apart, in order:
    the file source takes the oldest first, and files written within one
    timestamp tick would otherwise be taken in listing order, so a later
    file could pass the watermark ahead of an earlier one."""
    os.makedirs(directory, exist_ok=True)
    t0 = int(time.time()) - len(blobs)
    for i, b in enumerate(blobs):
        path = os.path.join(directory, f"f{i:05d}.jsonl")
        with open(path, "wb") as fh:
            fh.write(b)
        os.utime(path, (t0 + i, t0 + i))


def follow(q, done, on_commit=None, cpu=None, timeout: float = TIMEOUT_S) -> list[dict]:
    """Poll the query until ``done(batches)`` holds for its committed data
    micro-batches (or it fails, stops or times out) and return their
    progress in batch order. ``on_commit(batches)`` runs each time another
    data micro-batch has committed, and ``cpu`` (batch id -> CPU seconds)
    gets the engine's CPU time read then. Callers then stop the query, so an
    ``availableNow`` drain does not wait for its trailing no-data batch."""
    deadline = time.time() + timeout
    batches: list[dict] = []
    seen = 0
    while time.time() < deadline and q.exception() is None:
        batches = sorted((p for p in q.recentProgress if p["numInputRows"] > 0),
                         key=lambda p: p["batchId"])
        if len(batches) > seen:
            seen = len(batches)
            if cpu is not None:
                cpu[batches[-1]["batchId"]] = engine_cpu_s()
            if on_commit is not None:
                on_commit(batches)
        if done(batches) or not q.isActive:
            break
        time.sleep(0.1)
    return batches


def engine_cpu_s() -> float:
    """CPU seconds used so far by this process and everything below it (the
    JVM and its Python workers) except the paced publisher."""
    return tree_cpu_s(os.getpid(), exclude=tuple(PUBLISHERS))


#: pids of running publisher processes: load generators, not the engine
PUBLISHERS: set[int] = set()


def cpu_ms_per_record(cpu: dict[int, float], batches: list[dict], ids: set[int]) -> float:
    """Engine CPU milliseconds per wire event over the micro-batches ``ids``:
    CPU read at the commit of the last of them minus at the commit before
    the first, over their events."""
    first, last = min(ids), max(ids)
    before = [b for b in cpu if b < first]
    after = [b for b in cpu if b >= last]
    rows = sum(p["numInputRows"] for p in batches if p["batchId"] in ids)
    return (cpu[min(after)] - cpu[max(before)]) * 1000.0 / rows


def rows_of(batches: list[dict]) -> int:
    return sum(p["numInputRows"] for p in batches)


def freshness_e2e(fresh: list[float]) -> dict[str, float]:
    return {"freshness_p50_s": percentile(fresh, 50) if fresh else 0.0,
            "freshness_p95_s": percentile(fresh, 95) if fresh else 0.0}


def progress_layers(progress: list[dict]) -> dict[str, float]:
    """Per-layer numbers Spark's own micro-batch progress reports."""
    data = [p for p in progress if p["numInputRows"] > 0]

    def dur(k: str) -> float:
        return sum(p["durationMs"].get(k, 0) for p in progress) / 1000.0

    ops = [op for p in progress for op in p.get("stateOperators", [])]
    return {
        "sources.latest_offset_s": dur("latestOffset"),
        "sources.get_batch_s": dur("getBatch"),
        "pipeline.add_batch_s": dur("addBatch"),
        "pipeline.query_planning_s": dur("queryPlanning"),
        "pipeline.wal_commit_s": dur("walCommit") + dur("commitOffsets"),
        "pipeline.batches": len(data),
        "pipeline.rows_per_batch_p50": statistics.median([p["numInputRows"] for p in data]) if data else 0,
        "pipeline.dedup_state_rows": max((o["numRowsTotal"] for o in ops), default=0),
        "pipeline.dedup_state_bytes": max((o["memoryUsedBytes"] for o in ops), default=0),
        "pipeline.dedup_dropped_rows": sum(
            o["numRowsDroppedByWatermark"] + o.get("customMetrics", {}).get("numDroppedDuplicateRows", 0)
            for o in ops),
        "pipeline.state_commit_s": sum(o["commitTimeMs"] for o in ops) / 1000.0,
    }


def add_progress_spans(tracer: Tracer, progress: list[dict]) -> None:
    """Micro-batch phases as spans, so foreachBatch spans find a parent."""
    phases = ("latestOffset", "getBatch", "queryPlanning", "addBatch", "walCommit", "commitOffsets")
    for p in progress:
        end = progress_end(p)
        start = end - p["durationMs"].get("triggerExecution", 0) / 1000.0
        bid = tracer.add("spark.batch", start, end)
        # phases run in this order; their durations are reported, not their starts
        t = start
        for ph in phases:
            d = p["durationMs"].get(ph, 0) / 1000.0
            if d:
                tracer.add(f"spark.{ph}", t, t + d, parent=bid)
            t += d


def batch_files(checkpoint: str) -> dict[str, int]:
    """File path -> micro-batch id, from the file source's offset log."""
    out: dict[str, int] = {}
    for path in glob.glob(os.path.join(checkpoint, "sources", "0", "*")):
        if path.endswith(".tmp") or os.path.basename(path).startswith("."):
            continue
        with open(path) as fh:
            for line in fh:
                line = line.strip()
                if line.startswith("{"):
                    entry = json.loads(line)
                    out[os.path.basename(entry["path"])] = entry["batchId"]
    return out


def state_layers(state_dir: str) -> dict[str, float]:
    """Size and rewrite counts read from the latest-wins store's manifests
    and parquet footers after the pass."""
    import pyarrow.parquet as pq

    def rows_bytes(paths: list[str]) -> tuple[int, int]:
        rows = size = 0
        for p in paths:
            for f in glob.glob(os.path.join(p, "**", "*.parquet"), recursive=True):
                rows += pq.read_metadata(f).num_rows
                size += os.path.getsize(f)
        return rows, size

    try:
        with open(os.path.join(state_dir, "_MANIFEST.json")) as fh:
            manifest = json.load(fh)
    except FileNotFoundError:
        return {"pipeline.state_rows": 0, "pipeline.state_disk_bytes": 0,
                "pipeline.rows_written": 0, "pipeline.touched_buckets_mean": 0}
    live = [os.path.join(state_dir, f"v{v}", f"_bucket={b}") for b, v in manifest["buckets"].items()]
    state_rows, state_bytes = rows_bytes(live)
    written, _ = rows_bytes(glob.glob(os.path.join(state_dir, "v*")))
    touched = []
    for snap in glob.glob(os.path.join(state_dir, "_MANIFEST.v*.json")):
        with open(snap) as fh:
            m = json.load(fh)
        touched.append(sum(1 for v in m["buckets"].values() if v == m["version"]))
    return {
        "pipeline.state_rows": state_rows,
        "pipeline.state_disk_bytes": state_bytes,
        "pipeline.rows_written": written,
        "pipeline.touched_buckets_mean": statistics.mean(touched) if touched else 0,
    }


def check_state(spark, state_dir: str, events: list[gen.CdcEvent]) -> tuple[str, bool, str]:
    from pyspark.sql import functions as F

    from cdc_worker_spark.streaming.pipeline import LatestWinsState

    expected = {gen.state_row(e) for e in gen.latest_wins_oracle(events).values()}
    live = LatestWinsState(state_dir).read(spark)
    got = set()
    if live is not None:
        rows = live.select(
            "record_id", F.col("replay_id").cast("long"), F.unix_millis("commit_ts"), "change_type",
            "event.Name", "event.BillingAddress.City", "event.AnnualRevenue",
        ).collect()
        got = {tuple(r) for r in rows}
    ok = got == expected
    return ("state == latest-wins oracle", ok,
            f"{len(got)} live keys" if ok else
            f"missing {len(expected - got)}, unexpected {len(got - expected)} of {len(expected)}")


def check_dlq(spark, dlq_dir: str, planted: int) -> tuple[tuple[str, bool, str], int]:
    n = spark.read.parquet(dlq_dir).count() if os.path.isdir(dlq_dir) else 0
    return ("dlq rows == planted corrupt", n == planted, f"{n} vs {planted}"), n


def cdc_layers(spark, tracer: Tracer, progress: list[dict], state_dir: str,
               run_id: str, t0: float, t1: float, merged_events: int) -> dict[str, float]:
    """Per-layer metrics of a traced pass; its progress becomes spans."""
    add_progress_spans(tracer, progress)
    layers = progress_layers(progress)
    layers.update(state_layers(state_dir))
    layers["pipeline.rewrite_rows_per_event"] = layers.pop("pipeline.rows_written") / max(1, merged_events)
    layers.update(SparkStatus(spark).exec_counters(run_id, t0, t1))
    layers["pipeline.merge_s"] = tracer.totals("pipeline.merge")
    layers["pipeline.write_buckets_s"] = tracer.totals("pipeline.write_buckets")
    return layers


def python_decode_layer(tracer: Tracer, wire: gen.AvroWire, events: list[gen.CdcEvent]) -> dict:
    """Busy time of the pure-Python Avro decode layer for this pass's
    payloads. The decoder runs inside Python workers, whose ArrowEvalPython
    node reports no SQL metrics for foreachBatch micro-batches on this Spark
    build, so the same payloads are replayed through the engine's public
    ``compile_json_decoder`` here, in one span."""
    from cdc_worker_spark.functions.avro_codec import compile_json_decoder, encode

    payloads = [encode(e.payload(), wire.schema) for e in events if not e.corrupt]
    decode = compile_json_decoder(wire.schema)
    with tracer.span("envelope.python_decode"):
        for b in payloads:
            decode(b)
    return {"envelope.python_decode_s": tracer.totals("envelope.python_decode"),
            "envelope.python_bytes_in": sum(len(b) for b in payloads)}


def trace_cdc(tracer: Tracer) -> None:
    """Time the merge layer's public calls; spans are recorded only while
    ``tracer.active`` is set, i.e. in the traced window."""
    from cdc_worker_spark.streaming import pipeline

    tracer.active = False
    tracer.wrap(pipeline, "merge_latest_wins", "pipeline.merge")
    tracer.wrap(pipeline.LatestWinsState, "write_buckets", "pipeline.write_buckets")


class CdcDrain:
    """Backlogged JSON wire envelopes through ``run_cdc_pipeline``
    (availableNow, one file per trigger) over a key space as large as the
    backlog, so every merge rewrites the whole growing latest-wins state.

    The first ``WARM_BATCHES`` micro-batches are warm-up; the measured window
    is the ``--seconds / DRAIN_BATCH_S`` micro-batches after them (a traced
    run adds as many again, untraced, after its traced window). A
    micro-batch costs 8-10 s warm at local[4] on a 4-vCPU VM almost
    independently of its size, which is what bounds the batch count."""

    name = "cdc_drain"

    def __init__(self, work: str, seed: int, seconds: int, trace: bool) -> None:
        self.work, self.seed = work, seed
        self.n_window = max(2, round(seconds / DRAIN_BATCH_S))
        self.n_files = WARM_BATCHES + self.n_window * (2 if trace else 1)

    def generate(self) -> None:
        n = DRAIN_FILE_EVENTS * self.n_files
        self.stream = gen.cdc_drain_stream(self.seed, n, n_keys=n, n_files=self.n_files)
        blobs = [gen.file_bytes([gen.json_wire_line(e) for e in f]) for f in self.stream.files]
        write_files(os.path.join(self.work, "in"), blobs)
        write_files(os.path.join(self.work, "in_base"), blobs[:1])

    def _run(self, spark, input_dir: str, out: str):
        from cdc_worker_spark.streaming.pipeline import run_cdc_pipeline

        return run_cdc_pipeline(
            spark, input_dir, os.path.join(out, "state"), os.path.join(out, "dlq"),
            os.path.join(out, "chk"), max_files_per_trigger=1)

    def window(self, batches: list[dict], sizes: dict[int, int], cpu: dict[int, float],
               a: int, b: int) -> tuple[dict, list]:
        """End-to-end metrics of data micro-batches ``a`` to ``b - 1``: the
        median per micro-batch of its rows (bytes) over the time since the
        previous commit, and per record the time from the window's start
        (the commit before it; the whole window is backlogged then) to the
        commit of its micro-batch."""
        ends = [progress_end(p) for p in batches]
        rates, mbs, fresh = [], [], []
        for j in range(a, b):
            dt = ends[j] - ends[j - 1]
            rows = batches[j]["numInputRows"]
            rates.append(rows / dt)
            mbs.append(sizes[batches[j]["batchId"]] / dt / 1e6)
            fresh.extend([ends[j] - ends[a - 1]] * rows)
        ids = {p["batchId"] for p in batches[a:b]}
        return {"cpu_ms_per_record": cpu_ms_per_record(cpu, batches, ids),
                "records_per_s": statistics.median(rates), "wire_mb_s": statistics.median(mbs),
                **freshness_e2e(fresh)}, fresh

    def measure(self, spark, tracer: Tracer | None) -> Pass:
        out = os.path.join(self.work, "run")
        events = self.stream.events
        a, b = WARM_BATCHES, WARM_BATCHES + self.n_window
        cpu: dict[int, float] = {}
        if tracer is not None:
            trace_cdc(tracer)

            def on_commit(batches: list[dict]) -> None:
                tracer.active = a <= len(batches) < b
        try:
            q = self._run(spark, os.path.join(self.work, "in"), out)
            batches = follow(q, lambda bs: rows_of(bs) >= len(events),
                             on_commit if tracer is not None else None, cpu)
            failure = q.exception()
            q.stop()
        finally:
            if tracer is not None:
                tracer.restore()
        sizes: dict[int, int] = {}
        for name, bid in batch_files(os.path.join(out, "chk")).items():
            sizes[bid] = sizes.get(bid, 0) + os.path.getsize(os.path.join(self.work, "in", name))
        complete = rows_of(batches) == len(events) and failure is None and len(batches) == self.n_files
        checks = [("backlog committed", complete,
                   f"{rows_of(batches)} of {len(events)} events in {len(batches)} batches")]
        checks.append(check_state(spark, os.path.join(out, "state"), events))
        planted_corrupt = sum(e.corrupt for e in events)
        dlq_check, dlq_rows = check_dlq(spark, os.path.join(out, "dlq"), planted_corrupt)
        checks.append(dlq_check)
        failed = sum(1 for _, ok, _ in checks if not ok)
        ready = progress_end(batches[a - 1]) if len(batches) >= a else time.time()
        if not complete:
            return Pass({}, {}, len(batches) + len(checks), failed, ready, checks)
        e2e, fresh = self.window(batches, sizes, cpu, a, b)
        untraced, layers = None, {}
        if tracer is not None:
            untraced, _ = self.window(batches, sizes, cpu, b, len(batches))
            redelivered = len(events) - len({e.replay_id for e in events})
            layers = cdc_layers(spark, tracer, batches[a:b], os.path.join(out, "state"), str(q.runId),
                                progress_end(batches[a - 1]), progress_end(batches[b - 1]),
                                len(events) - dlq_rows - redelivered)
            layers["envelope.dlq_rows"] = dlq_rows
            layers["sources.backlog_files_max"] = self.n_files - a
        return Pass(
            e2e=e2e, layers=layers, ops=len(batches) + len(checks), failed_ops=failed,
            ready=ready, checks=checks, untraced=untraced,
            detail={"freshness_s": summarize(fresh), "window_batches": b - a,
                    "window_s": progress_end(batches[b - 1]) - ready, "events": len(events),
                    "batch_s": [p["durationMs"]["triggerExecution"] / 1000 for p in batches],
                    "planted": self.stream.planted})

    def baseline(self, spark) -> dict:
        """Single-thread baseline: the first backlog file drained on fresh
        state (call on a ``local[1]`` session)."""
        events = self.stream.files[0]
        q = self._run(spark, os.path.join(self.work, "in_base"), os.path.join(self.work, "local1"))
        t0 = time.time()
        batches = follow(q, lambda bs: rows_of(bs) >= len(events))
        q.stop()
        if not batches:
            return {}
        wall = progress_end(batches[-1]) - t0
        return {"master": "local[1]", "input": "first backlog file, cold", "events": len(events),
                "records_per_s": len(events) / wall, "wall_s": wall}


class CdcPacedAvro:
    """Open loop: a separate single-threaded generator process publishes
    Avro-wire files on a fixed schedule (``PACED_EVENTS_PER_S``) over a small
    Zipf hot-key set while the pipeline runs continuously.

    The first ``WARM_BATCHES`` micro-batches are warm-up; the
    measured window holds the files due in the ``--seconds`` after the last
    of them committed (a traced run adds an untraced window after its traced
    one). The schedule ends with the window, and the query is stopped once
    the last file has committed."""

    name = "cdc_paced_avro"

    def __init__(self, work: str, seed: int, seconds: int, trace: bool) -> None:
        self.work, self.seed, self.seconds, self.trace = work, seed, seconds, trace
        self.per_file = round(PACED_EVENTS_PER_S * PACED_INTERVAL_S)

    def generate(self) -> None:
        # the files are stamped with their publish schedule, so the
        # generator process writes them just in time
        pass

    def window(self, files: list[dict], batch_of: dict[str, int], batches: list[dict],
               sizes: dict[str, int], cpu: dict[int, float], w0: float,
               w1: float) -> tuple[dict, list]:
        """End-to-end metrics of the files due in [w0, w1): per record, its
        micro-batch's commit minus its due time; the events (bytes) of the
        micro-batches that committed them over the time from the commit
        before the first of those to the last; and the engine's CPU per event
        over those of them that are full, i.e. started while files were
        still being published into the window (a micro-batch takes what
        arrived while the one before it ran, so one that starts after the
        schedule ended holds only the tail, and its fixed cost would be
        spread over however few events that is)."""
        ends = {p["batchId"]: progress_end(p) for p in batches}
        mine = [f for f in files if w0 <= f["scheduled"] < w1]
        fresh = [ends[batch_of[f["name"]]] - f["scheduled"] for f in mine for _ in range(self.per_file)]
        ids = {batch_of[f["name"]] for f in mine}
        before = [ends[b] for b in ends if b < min(ids)]
        span = max(ends[b] for b in ids) - (max(before) if before else w0)
        rows = sum(p["numInputRows"] for p in batches if p["batchId"] in ids)
        nbytes = sum(sizes[n] for n, b in batch_of.items() if b in ids)
        arrivals_end = max(f["scheduled"] for f in mine)
        full = {p["batchId"] for p in batches if p["batchId"] in ids
                and progress_end(p) - p["durationMs"]["triggerExecution"] / 1000 <= arrivals_end}
        return {"cpu_ms_per_record": cpu_ms_per_record(cpu, batches, full or ids),
                "records_per_s": rows / span, "wire_mb_s": nbytes / span / 1e6,
                **freshness_e2e(fresh)}, fresh

    def measure(self, spark, tracer: Tracer | None) -> Pass:
        from cdc_worker_spark.streaming.pipeline import run_cdc_pipeline

        out = os.path.join(self.work, "run")
        bus, staging = os.path.join(out, "bus"), os.path.join(out, "staging")
        os.makedirs(bus)
        log, until = os.path.join(out, "publisher.json"), os.path.join(out, "until")
        w = WARM_BATCHES
        marks: dict[str, float] = {}
        cpu: dict[int, float] = {}
        if tracer is not None:
            trace_cdc(tracer)

        def on_commit(batches: list[dict]) -> None:
            if "ready" not in marks and len(batches) >= w:
                marks["ready"] = progress_end(batches[w - 1])
                tmp = until + ".tmp"
                with open(tmp, "w") as fh:
                    fh.write(repr(marks["ready"] + self.seconds * (2 if self.trace else 1)))
                os.replace(tmp, until)
                if tracer is not None:
                    tracer.active = True
            elif (tracer is not None and tracer.active
                  and progress_end(batches[-1]) >= marks["ready"] + self.seconds):
                # files due from here on wait only on untraced micro-batches
                tracer.active = False
                marks["untraced"] = progress_end(batches[-1])

        def done(batches: list[dict]) -> bool:
            if pub.poll() is None:
                return False
            with open(log) as fh:
                marks["published"] = len(json.load(fh)["files"])
            return rows_of(batches) >= marks["published"] * self.per_file

        pub = None
        try:
            q = run_cdc_pipeline(
                spark, bus, os.path.join(out, "state"), os.path.join(out, "dlq"),
                os.path.join(out, "chk"), max_files_per_trigger=None, available_now=False,
                codec="avro")
            pub = subprocess.Popen([
                sys.executable, os.path.join(os.path.dirname(__file__), "publish.py"),
                "--seed", str(self.seed), "--per-file", str(self.per_file),
                "--interval", str(PACED_INTERVAL_S),
                "--max-files", str(int(PACED_MAX_S / PACED_INTERVAL_S)), "--until", until,
                "--bus", bus, "--staging", staging, "--log", log])
            PUBLISHERS.add(pub.pid)
            batches = follow(q, done, on_commit, cpu)
            pub.wait(timeout=TIMEOUT_S)
            failure = q.exception()
            q.stop()
        finally:
            if pub is not None:
                if pub.poll() is None:
                    pub.kill()
                    pub.wait()
                PUBLISHERS.discard(pub.pid)
            if tracer is not None:
                tracer.restore()
        with open(log) as fh:
            plog = json.load(fh)
        files = plog["files"]
        total = len(files) * self.per_file
        batch_of = batch_files(os.path.join(out, "chk"))
        ends = {p["batchId"]: progress_end(p) for p in batches}
        sizes = {f["name"]: os.path.getsize(os.path.join(bus, f["name"])) for f in files}
        events = [e for i, f in enumerate(files)
                  for e in gen.cdc_paced_file(self.seed, i, self.per_file,
                                              int(round(f["scheduled"] * 1000)))]
        complete = (failure is None and rows_of(batches) >= total and "ready" in marks
                    and all(batch_of.get(f["name"]) in ends for f in files))
        checks = [("all scheduled files committed", complete,
                   f"{rows_of(batches)} of {total} events in {len(batches)} batches")]
        checks.append(check_state(spark, os.path.join(out, "state"), events))
        planted = sum(e.corrupt for e in events)
        dlq_check, dlq_rows = check_dlq(spark, os.path.join(out, "dlq"), planted)
        checks.append(dlq_check)
        failed = sum(1 for _, ok, _ in checks if not ok)
        ready = marks.get("ready", time.time())
        if not complete:
            return Pass({}, {}, len(batches) + len(checks), failed, ready, checks)
        w1 = ready + self.seconds if tracer is not None else float("inf")
        e2e, fresh = self.window(files, batch_of, batches, sizes, cpu, ready, w1)
        late = [f["actual"] - f["scheduled"] for f in files]
        untraced, layers = None, {}
        if tracer is not None:
            t_off = marks.get("untraced", w1)
            untraced, _ = self.window(files, batch_of, batches, sizes, cpu, t_off, float("inf"))
            traced = [p for p in batches if progress_end(p) > ready
                      and progress_end(p) - p["durationMs"]["triggerExecution"] / 1000 < t_off]
            layers = cdc_layers(spark, tracer, traced, os.path.join(out, "state"), str(q.runId),
                                ready, t_off, total - dlq_rows)
            # files already published, and not yet taken, when each batch started
            actual = {f["name"]: f["actual"] for f in files}
            layers["sources.backlog_files_max"] = max(
                (sum(1 for n, t in actual.items()
                     if t <= progress_end(p) - p["durationMs"]["triggerExecution"] / 1000
                     and batch_of.get(n, -1) >= p["batchId"])
                 for p in traced), default=0)
            layers["envelope.dlq_rows"] = dlq_rows
            layers["sources.generator_late_p95_s"] = percentile(late, 95)
            window_events = [e for i, f in enumerate(files) if ready <= f["scheduled"] < w1
                             for e in events[i * self.per_file:(i + 1) * self.per_file]]
            layers.update(python_decode_layer(tracer, gen.AvroWire(), window_events))
        return Pass(
            e2e=e2e, layers=layers, ops=len(batches) + len(checks), failed_ops=failed,
            ready=ready, checks=checks, untraced=untraced,
            detail={"freshness_s": summarize(fresh), "events": total,
                    "offered_events_per_s": PACED_EVENTS_PER_S,
                    "generator_late_s": summarize(late),
                    "batch_s": [p["durationMs"]["triggerExecution"] / 1000 for p in batches]})


WORKLOADS = {w.name: w for w in (CdcDrain, CdcPacedAvro)}
