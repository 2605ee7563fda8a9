"""End-to-end benchmark of logstash_spark's fan-out runs on local[N],
N the CPUs this process may use (4 on the VM the figures come from).

    python3 perfbench/run.py --workload batch_flagship --seed 1 --seconds 10 --trace 0

One run = one workload in one fresh process:

1. set-up: launch Spark and compile the spec;
2. stage the seeded input and ask the DuckDB oracle for the expected
   rows per sink;
3. a cold pass (`first_run_s`), a fixed number of untimed warm-up
   passes, then timed passes for `--seconds`; every pass is checked
   against the oracle, and a mismatch counts as a failed pass;
4. SETUP_REPS more set-ups, each restarting the session in the now warm
   JVM; `setup_s` is the median of all set-ups.

With `--trace 0` the last stdout line carries the end-to-end metrics.
With `--trace 1` the run instead records spans around the program's
layer entry points, reads Spark's event log, adds a local[1] pass, and
the last line carries the per-layer metrics. All timing is taken here,
outside the program. The end-to-end times are wall times with the CPU
time the hypervisor stole taken out (`procstat.unshared_share`). Every
pass's wall time and unshared share are printed on the line before the
result.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import time
from statistics import median

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if ROOT not in sys.path:  # run as a script: make `perfbench` importable
    sys.path.insert(0, ROOT)

from perfbench import oracle  # noqa: E402
from perfbench.procstat import (  # noqa: E402
    PeakMemory, alive, host_ticks, tree_cpu_s, tree_pids, unshared_share,
)
from perfbench.trace import Tracer, event_log_totals  # noqa: E402
from perfbench.workloads import STREAM_BATCHES, WORKLOADS  # noqa: E402

# one Spark task slot per usable CPU: more would measure the scheduler
CORES = len(os.sched_getaffinity(0))
SETUP_REPS = 3
# a pass plans ~20 Spark jobs and the driver JVM keeps JIT-compiling for
# ~10 passes, each pass cheaper than the last. Warm-up passes are
# therefore counted, not timed, so that every run times the same passes
# of that curve; WARM is as many as a run of about a minute affords
WARM = 5
TIMED_MIN = 4


def _isolate(work: str) -> None:
    """Keep every file Spark, the JVM and Python write under `work`."""
    for d in ("tmp", "local", "eventlog"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    tmp = os.path.join(work, "tmp")
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["SPARK_SUBMIT_OPTS"] = (
        os.environ.get("SPARK_SUBMIT_OPTS", "")
        + f" -Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    )
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "1g"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )


class Bench:
    def __init__(self, wl, seed: int, seconds: float, trace: bool, scale: float, work: str):
        self.wl, self.seed, self.seconds, self.trace = wl, seed, seconds, trace
        self.work = work
        self.rows_target = max(1000, int(wl.rows * scale))
        self.spark = None
        self.passes: list[dict] = []
        self.failures: list[str] = []
        self.tracer = Tracer()
        self.memory = None
        self.setup_samples: list[float] = []
        self.t0 = time.perf_counter()
        self.marks: dict[str, float] = {}
        self._n = 0

    # -- session -------------------------------------------------------------

    def session(self, master: str = f"local[{CORES}]"):
        from logstash_spark.session import get_spark

        conf = {
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
        }
        if self.trace:
            conf["spark.eventLog.enabled"] = "true"
            conf["spark.eventLog.dir"] = "file://" + os.path.join(self.work, "eventlog")
            conf["spark.eventLog.rolling.enabled"] = "false"
            conf["spark.eventLog.compress"] = "false"
        return get_spark(
            master=master, app_name=f"perfbench-{self.wl.name}",
            shuffle_partitions=CORES, extra_conf=conf,
        )

    def setup(self) -> None:
        """get_spark + spec compile; the session is restarted (in the same
        JVM) when one is already open."""
        if self.spark is not None:
            self.spark.stop()
        t0, h0 = time.perf_counter(), host_ticks()
        self.spark = self.session()
        self.spec = self.wl.compile()
        self.setup_samples.append(
            (time.perf_counter() - t0) * unshared_share(h0, host_ticks()))
        self.spark.sparkContext.setLogLevel("ERROR")
        self._mark(f"setup{len(self.setup_samples)}")

    def stage(self) -> None:
        self.input_dir = os.path.join(self.work, "input")
        self.rows = self.wl.stage(self.spark, self.rows_target, self.seed, self.input_dir)
        self.expected = self.wl.expected(self.input_dir)

    def close(self) -> None:
        """Stop Spark, end the JVM and wait for every process this run
        started (the JVM and its Python workers) to exit."""
        if self.memory is not None:
            self.memory.stop()
        if self.spark is None:
            return
        from pyspark import SparkContext

        # the JVM's Python workers outlive it briefly, reparented away
        # from this tree: remember every pid now and wait for each
        started = [p for p in tree_pids() if p != os.getpid()]
        gateway = SparkContext._gateway
        self.spark.stop()
        self.spark = None
        if gateway is not None:
            proc = getattr(gateway, "proc", None)
            gateway.shutdown()
            if proc is not None:
                proc.stdin.close()  # the JVM exits when its stdin closes
                proc.wait(timeout=60)
        deadline = time.time() + 60
        while any(alive(p) for p in started) and time.time() < deadline:
            time.sleep(0.1)

    # -- passes --------------------------------------------------------------

    def _mark(self, phase: str) -> None:
        """Seconds since the run started at which `phase` ended."""
        self.marks[phase] = time.perf_counter() - self.t0

    def fresh(self, kind: str) -> str:
        self._n += 1
        return os.path.join(self.work, f"{kind}-{self._n}")

    def _jit_s(self) -> float:
        """Seconds the Spark driver JVM has spent in JIT compilation so far."""
        mf = self.spark._jvm.java.lang.management.ManagementFactory
        return mf.getCompilationMXBean().getTotalCompilationTime() / 1e3

    def _start(self) -> tuple:
        return time.perf_counter(), tree_cpu_s(), self._jit_s(), host_ticks()

    def _since(self, start) -> dict:
        t0, c0, j0, h0 = start
        wall = time.perf_counter() - t0
        share = unshared_share(h0, host_ticks())
        return {"wall_s": wall, "unshared_s": wall * share, "share": share,
                "cpu_s": tree_cpu_s() - c0, "jit_s": self._jit_s() - j0}

    def _record(self, phase: str, cost: dict, root: str, actual: dict,
                sink_dirs: list[str], **extra) -> dict:
        bad = oracle.mismatches(self.expected, actual)
        if bad:
            self.failures.append(f"{phase} pass {len(self.passes)}: " + "; ".join(bad))
        sink_bytes = sum(os.path.getsize(f) for d in sink_dirs for f in oracle.sink_files(d))
        shutil.rmtree(root, ignore_errors=True)
        rec = {"phase": phase, **cost, "ok": not bad, "sink_bytes": sink_bytes, **extra}
        self.passes.append(rec)
        return rec

    def batch_pass(self, phase: str) -> dict:
        root = self.fresh("batch")
        start = self._start()
        df = self.spark.read.parquet(self.input_dir)
        self.wl.run_batch(self.spark, df, self.spec, root)
        cost = self._since(start)
        return self._record(
            phase, cost, root, oracle.table_counts(root, self.wl.sinks),
            [os.path.join(root, s) for s in self.wl.sinks],
        )

    def stream_pass(self, phase: str, transform=None) -> dict:
        from logstash_spark.streaming.pipeline import (
            file_stream_source, run_streaming_fanout,
        )

        root, ckpt = self.fresh("stream"), self.fresh("ckpt")
        schema = self.spark.read.parquet(self.input_dir).schema
        start = self._start()
        per_trigger = -(-len(oracle.sink_files(self.input_dir)) // STREAM_BATCHES)
        src = file_stream_source(
            self.spark, self.input_dir, schema, max_files_per_trigger=per_trigger
        )
        q = run_streaming_fanout(
            src, transform or self.wl.transform(self.spec), self.wl.sinks, root, ckpt,
            drop_before_write=self.wl.stream_drop,
        )
        q.awaitTermination()
        cost = self._since(start)
        batches = [p.durationMs for p in q.recentProgress if p.numInputRows > 0]
        shutil.rmtree(ckpt, ignore_errors=True)
        return self._record(
            phase, cost, root, oracle.partition_counts(root, self.wl.sinks),
            [os.path.join(root, f"sink={s}") for s in self.wl.sinks],
            trigger_ms=[b["triggerExecution"] for b in batches],
            add_batch_ms=[b.get("addBatch", 0) for b in batches],
        )

    def own_pass(self, phase: str) -> dict:
        return self.stream_pass(phase) if self.wl.stream else self.batch_pass(phase)

    # -- the end-to-end run --------------------------------------------------

    def end_to_end(self) -> dict:
        self.setup()
        self.stage()
        self._mark("stage")
        cold = self.own_pass("cold")
        self._mark("cold")
        for _ in range(WARM):
            self.own_pass("warm")
        self._mark("warm")
        self.memory = PeakMemory().start()
        timed, t_end = [], time.perf_counter() + self.seconds
        while len(timed) < TIMED_MIN or time.perf_counter() < t_end:
            timed.append(self.own_pass("timed"))
        self._mark("timed")
        peak_mb = self.memory.stop() / 2**20
        for _ in range(SETUP_REPS):
            self.setup()
        wall = median([p["unshared_s"] for p in timed])
        if self.wl.stream:
            batch_ms = median([t * p["share"] for p in timed for t in p["trigger_ms"]])
        else:
            batch_ms = wall * 1e3
        return {
            "rows_per_s": (self.rows / wall, "1/s"),
            "cpu_s_per_mrow": (median([p["cpu_s"] for p in timed]) / self.rows * 1e6, "s"),
            "first_run_s": (cold["unshared_s"], "s"),
            "setup_s": (median(self.setup_samples), "s"),
            "peak_rss_mb": (peak_mb, "MiB"),
            "sink_bytes_per_row": (median([p["sink_bytes"] for p in timed]) / self.rows, "B"),
            "batch_p50_ms": (batch_ms, "ms"),
        }

    # -- the traced run ------------------------------------------------------

    def _noop(self, df) -> None:
        df.write.format("noop").mode("overwrite").save()

    def _group(self, name: str | None) -> None:
        self.spark.sparkContext.setLocalProperty("spark.jobGroup.id", name)

    def traced_batch(self) -> dict:
        """Cumulative prefixes forced into a noop sink, then run_pipeline
        with a span around every SnapshotTable.append."""
        from logstash_spark.sources.tableio import SnapshotTable

        prefix_s = {}
        for layer, build in self.wl.prefixes(self.spec):
            self._group(f"trace.{layer}")
            with self.tracer.span(f"prefix.{layer}") as sp:
                self._noop(build(self.spark.read.parquet(self.input_dir)))
            prefix_s[layer] = sp.dur
        cached = [0]
        jsc = self.spark.sparkContext._jsc.sc()
        original = SnapshotTable.append
        tracer = self.tracer

        def append(table, *args, **kwargs):
            info = jsc.getRDDStorageInfo()
            cached[0] = max(cached[0], sum(i.memSize() + i.diskSize() for i in info))
            with tracer.span("tableio.append:" + os.path.basename(table.root)):
                return original(table, *args, **kwargs)

        root = self.fresh("batch")
        self._group("trace.run_pipeline")
        SnapshotTable.append = append
        try:
            start = self._start()
            with self.tracer.span("run_pipeline") as rp:
                df = self.spark.read.parquet(self.input_dir)
                self.wl.run_batch(self.spark, df, self.spec, root)
            cost = self._since(start)
        finally:
            SnapshotTable.append = original
            self._group(None)
        appends = {
            c.name.split(":", 1)[1]: c.dur for c in self.tracer.children(rp)
        }
        files = len(oracle.sink_files(root))
        return self._record(
            "traced", cost, root, oracle.table_counts(root, self.wl.sinks),
            [os.path.join(root, s) for s in self.wl.sinks],
            prefix_s=prefix_s, self_s=self.tracer.self_time(rp),
            appends=appends, cached_mb=cached[0] / 2**20, files=files,
        )

    def traced_stream(self) -> dict:
        base = self.wl.transform(self.spec)
        sc = self.spark.sparkContext

        def transform(df):
            # runs on the foreachBatch callback thread: tag that thread's jobs
            sc.setLocalProperty("spark.jobGroup.id", "trace.stream")
            return base(df)

        with self.tracer.span("run_streaming_fanout"):
            return self.stream_pass("traced_stream", transform)

    def traced(self) -> dict:
        self.setup()
        self.stage()
        self.own_pass("cold")
        self.own_pass("warm")
        (self.batch_pass if self.wl.stream else self.stream_pass)("warm")
        # alternate so that warm-up drift biases neither side of the ratio
        untraced, traced = [], []
        for _ in range(2):
            untraced.append(self.batch_pass("untraced"))
            traced.append(self.traced_batch())
        st = self.traced_stream()

        # single-threaded baseline of the same batch run
        self.spark.stop()
        self.spark = self.session(master="local[1]")
        self.spark.sparkContext.setLogLevel("ERROR")
        self.batch_pass("local1_warm")
        local1 = self.batch_pass("local1")

        self.spark.stop()  # flushes the event log
        groups = event_log_totals(os.path.join(self.work, "eventlog"))
        self.tracer.dump(
            os.path.join(os.path.dirname(self.work), f"trace-{os.path.basename(self.work)}.json"),
            event_log=groups,
        )

        def med(key, sub=None):
            return median([(p[key][sub] if sub else p[key]) for p in traced])

        rp_group = groups.get("trace.run_pipeline", {})
        n_traced = len(traced)
        # rates from unshared time, as in the end-to-end run; layer times
        # stay wall time so that they add up with the spans
        r4 = self.rows / median([p["unshared_s"] for p in untraced])
        r1 = self.rows / local1["unshared_s"]
        side = ["_sink_lineage", "_aggregates", "_metrics", "_lineage"]
        stream_jobs = groups.get("trace.stream", {}).get("jobs", 0)
        m = {
            "layer.scan_s": (med("prefix_s", "scan"), "s"),
            "layer.parse_s": (med("prefix_s", "parse") - med("prefix_s", "scan"), "s"),
            "layer.enrich_s": (med("prefix_s", "enrich") - med("prefix_s", "parse"), "s"),
            "layer.route_s": (med("prefix_s", "route") - med("prefix_s", "enrich"), "s"),
            "layer.fanout_s": (med("wall_s") - med("prefix_s", "route"), "s"),
            "runner.wall_s": (med("wall_s"), "s"),
            "runner.self_s": (med("self_s"), "s"),
            "runner.spark_jobs": (rp_group.get("jobs", 0) / n_traced, "count"),
            "runner.cached_mb": (med("cached_mb"), "MiB"),
            "tableio.append_s.sinks": (
                median([sum(v for k, v in p["appends"].items() if k not in side) for p in traced]), "s"),
            **{f"tableio.append_s.{t}": (med("appends", t), "s") for t in side},
            "tableio.files_written": (med("files"), "count"),
            "stream.micro_batches": (len(st["trigger_ms"]), "count"),
            "stream.add_batch_ms_p50": (median(st["add_batch_ms"]), "ms"),
            "stream.trigger_overhead_ms_p50": (
                median([t - a for t, a in zip(st["trigger_ms"], st["add_batch_ms"])]), "ms"),
            "stream.spark_jobs_per_batch": (stream_jobs / max(1, len(st["trigger_ms"])), "count"),
            "spark.task_cpu_s": (rp_group.get("task_cpu_s", 0) / n_traced, "s"),
            "spark.gc_s": (rp_group.get("gc_s", 0) / n_traced, "s"),
            "spark.shuffle_write_mb": (rp_group.get("shuffle_write_bytes", 0) / n_traced / 2**20, "MiB"),
            "spark.bytes_written_mb": (rp_group.get("bytes_written", 0) / n_traced / 2**20, "MiB"),
            "scale.local1_rows_per_s": (r1, "1/s"),
            "scale.eff_1to4": (r4 / (CORES * r1), "ratio"),
            "trace.overhead_ratio": (r4 / (self.rows / med("unshared_s")), "ratio"),
        }
        return m


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", type=float, default=1.0,
                    help="multiply the input rows (the smoke test uses a small scale)")
    args = ap.parse_args(argv)

    work = os.path.join(
        ROOT, ".perfbench_work",
        f"{args.workload}-seed{args.seed}-trace{args.trace}-{os.getpid()}",
    )
    import logstash_spark  # noqa: F401  (fail before any work when the program is absent)

    shutil.rmtree(work, ignore_errors=True)
    _isolate(work)

    bench = Bench(WORKLOADS[args.workload], args.seed, args.seconds,
                  bool(args.trace), args.scale, work)
    try:
        metrics = bench.traced() if args.trace else bench.end_to_end()
    finally:
        bench.close()
        shutil.rmtree(work, ignore_errors=True)
    for f in bench.failures:
        print("oracle mismatch:", f, file=sys.stderr)
    print("perfbench passes:", json.dumps({
        "workload": args.workload, "seed": args.seed, "rows": bench.rows,
        "setup_s": bench.setup_samples, "phase_end_s": bench.marks,
        "passes": [{k: (round(v, 4) if isinstance(v, float) else v)
                    for k, v in p.items() if k in ("phase", "wall_s", "share", "cpu_s", "jit_s", "ok")}
                   for p in bench.passes],
    }))
    attempted = len(bench.passes)
    failed = sum(not p["ok"] for p in bench.passes)
    print(json.dumps({
        "correct": failed == 0 and attempted > 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
