"""The repo benchmark: one workload, one process, a closed loop with one
client.

    python3 perfbench/run.py --workload relational --seed 1 --seconds 15 --trace 0

Run it from the root of a checkout. It stages the inputs (``inputs.py``:
the committed fixture tables and the seeded stream files) under
``.perfbench/`` in the checkout, starts a session from
``demy_spark.session.get_spark`` on ``local[<cpus / 2>]`` and runs passes
over the workload's entry points (``workloads.py``), each pass after
the first in an order the seed permutes. Before every call the
CacheManager is cleared; after it, the cache entries it left and the
session conf keys it changed are counted and the conf is put back.

- ``setup_s``: from process start (interpreter, imports, JVM launch)
  until the first call could run: the session is started and the
  inputs are staged into a fresh directory.
- ``cold_s``: the cold passes (``COLD_PASSES`` of the workload), each
  the first pass of its JVM, in the listed call order: one right after
  set-up, any more at the end of the run, each in a newly launched JVM.
  Each result is collected as Arrow (timed) and compared with its
  pinned digest (``digests.json``, untimed); the stream's store is read
  back and compared untimed.
- ``pass_s``: the steady passes after the first cold pass, run for
  ``--seconds`` (at least three), every result forced with a noop write.
- ``peak_rss_mb``: VmHWM of this process plus the JVM's, after the
  steady passes.

``cold_s`` and ``pass_s`` are each the sum over the calls of that
call's median time over those passes, so one slow call in one pass
does not move them.

A call fails if it raises or its output misses its digest;
``failed``/``attempted`` count calls. ``--trace 1`` adds a traced run
in the same process (see ``tracing.py``) and prints the per-layer
metrics instead; its span overhead is the ratio of traced to untraced
passes run alternately in that traced session. The line before the
result line is a JSON report with per-call detail.
"""

from __future__ import annotations

import argparse
import contextlib
import glob
import json
import os
import random
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

from tracing import CALL_PROP  # noqa: E402
from workloads import COLD_PASSES, STREAM_CALL, STREAM_FILES, STREAM_ORACLE, WORKLOADS  # noqa: E402

DRIVER_MEM = "2g"
# Spark task threads: half the CPUs this process may use. The JVM's
# JIT compiler and GC threads and the Python driver need the rest; on a
# 4-vCPU VM, local[2] ran the workloads faster and steadier than local[4].
TASK_THREADS = max(1, len(os.sched_getaffinity(0)) // 2)
END_TO_END = {
    "setup_s": "s",
    "cold_s": "s",
    "pass_s": "s",
    "peak_rss_mb": "MB",
}
EVENT_SCHEMA = (
    "event_id BIGINT, ts TIMESTAMP_NTZ, user_id BIGINT, event_type STRING, "
    "value DOUBLE, props STRING"
)


def per_layer_units() -> dict[str, str]:
    """Name -> unit of every metric a traced run prints."""
    from tracing import REPORTED_LAYERS, SPARK_METRICS

    units: dict[str, str] = {}
    for lay in REPORTED_LAYERS:
        units.update({f"{lay}.calls": "count", f"{lay}.self_s": "s", f"{lay}.jobs": "count"})
    units.update(
        {
            "streaming.batches": "count",
            "streaming.add_batch_s": "s",
            "streaming.overhead_s": "s",
            "streaming.store_bytes": "bytes",
            "streaming.events_per_s": "1/s",
            "session.start_s": "s",
            "session.cache_left": "count",
            "session.conf_delta": "count",
        }
    )
    for m in SPARK_METRICS:
        units[f"spark.{m}"] = (
            "count" if m in ("jobs", "stages", "tasks") else "bytes" if m.endswith("_bytes") else "s"
        )
    units.update(
        {
            "driver.self_s": "s",
            "trace.pass_s": "s",
            "trace.untraced_pass_s": "s",
            "trace.overhead_ratio": "ratio",
        }
    )
    return units


def since_process_start() -> float:
    """Seconds since this process was started, from /proc (10 ms steps)."""
    with open("/proc/self/stat", encoding="ascii", errors="replace") as fh:
        start_ticks = int(fh.read().rsplit(")", 1)[1].split()[19])
    return time.clock_gettime(time.CLOCK_BOOTTIME) - start_ticks / os.sysconf("SC_CLK_TCK")


def _vm_hwm_kb(pid: int | str) -> int:
    with open(f"/proc/{pid}/status", encoding="ascii") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def _dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs
    )


def _proc_stat(pid: int | str) -> list[str] | None:
    """Fields of /proc/<pid>/stat after the command name (state first),
    or None once the process is gone."""
    try:
        with open(f"/proc/{pid}/stat", encoding="ascii", errors="replace") as fh:
            return fh.read().rsplit(")", 1)[1].split()
    except OSError:
        return None


def stop_jvm(timeout: float = 60.0) -> None:
    """End the JVM the session launched, and the Python worker daemons
    it forked, and wait for all of them."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if proc is None:
        return
    children = [
        int(path.split("/")[2])
        for path in glob.glob("/proc/[0-9]*")
        if (_proc_stat(path.split("/")[2]) or ["", "0"])[1] == str(proc.pid)
    ]
    gateway.shutdown()
    proc.terminate()
    try:
        proc.wait(timeout)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
    SparkContext._gateway = SparkContext._jvm = None
    deadline = time.monotonic() + timeout
    for pid in children:
        while time.monotonic() < deadline:
            stat = _proc_stat(pid)
            if stat is None or stat[0] == "Z":
                break
            time.sleep(0.05)


def _quartiles(values: list[float]) -> dict:
    q = statistics.quantiles(values, n=4) if len(values) > 1 else [values[0]] * 3
    return {"q1": q[0], "median": statistics.median(values), "q3": q[2], "n": len(values)}


class Bench:
    def __init__(self, workload: str, seed: int, seconds: float, work: str) -> None:
        self.workload = workload
        self.calls = WORKLOADS[workload]
        self.seed = seed
        self.seconds = seconds
        self.work = work
        self.rng = random.Random(seed)
        with open(os.path.join(HERE, "digests.json"), encoding="utf-8") as fh:
            self.digests = json.load(fh)
        self.spark = None
        self.tracer = None
        self.sf_dir = self.stream_dir = None
        self.n_events = 0
        self.attempted = self.failed = 0
        self.errors: list[str] = []
        self.session_start_s: list[float] = []
        self.call_log: list[dict] = []
        self.stream_log: list[dict] = []
        self.pass_no = 0

    # -- set-up ---------------------------------------------------------

    def _conf(self, event_log: str | None = None) -> dict[str, str]:
        conf = {
            # python workers import demy_spark from the checkout, whatever
            # the Spark driver's working directory
            "spark.executorEnv.PYTHONPATH": ROOT,
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": os.path.join(self.work, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
            # a fixed-size heap: the JVM's resident size then tracks what
            # the run touched, not when G1 chose to grow the heap
            "spark.driver.extraJavaOptions": (
                f"-Xms{DRIVER_MEM} -Djava.io.tmpdir={tempfile.gettempdir()}"
            ),
        }
        if event_log:
            conf.update(
                {
                    "spark.eventLog.enabled": "true",
                    # Spark 4 writes zstd by default; keep it readable
                    "spark.eventLog.compress": "false",
                    "spark.eventLog.dir": event_log,
                }
            )
        return conf

    def restart(self) -> None:
        """Stop the session and its JVM and start both again, so the next
        pass is cold."""
        self.stop_session()
        stop_jvm()
        self.start_session()

    def stop_session(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    def start_session(self, event_log: str | None = None) -> None:
        from demy_spark.session import get_spark

        t0 = time.perf_counter()
        self.spark = get_spark(
            "perfbench",
            master=f"local[{TASK_THREADS}]",
            extra_conf=self._conf(event_log),
        )
        self.session_start_s.append(time.perf_counter() - t0)

    def stage_inputs(self) -> None:
        import pyarrow.parquet as pq

        import inputs

        base = tempfile.mkdtemp(prefix="inputs-", dir=self.work)
        self.sf_dir = os.path.join(base, "tables")
        self.stream_dir = os.path.join(base, "stream")
        inputs.stage_tables(self.sf_dir)
        events = pq.read_table(os.path.join(self.sf_dir, "events.parquet"))
        inputs.write_stream_files(events, self.stream_dir, STREAM_FILES, self.seed)
        self.n_events = events.num_rows

    def setup(self) -> float:
        """Start the session and stage the inputs; seconds since process
        start (interpreter, imports, JVM launch) when the first call
        could run."""
        self.start_session()
        self.stage_inputs()
        return since_process_start()

    # -- calls ----------------------------------------------------------

    def _cache_entries(self) -> int:
        cm = self.spark._jsparkSession.sharedState().cacheManager()
        field = cm.getClass().getDeclaredField("cachedData")
        field.setAccessible(True)
        return field.get(cm).size()

    def _span(self, layer: str, name: str):
        return self.tracer.span(layer, name) if self.tracer else contextlib.nullcontext()

    def _drain(self) -> tuple[str, str]:
        """Drain the staged event files into a fresh versioned store;
        return the store and the scratch directory holding it."""
        from pyspark.sql import functions as F

        from demy_spark.streaming import rollup

        spark = self.spark
        scratch = tempfile.mkdtemp(prefix="stream-", dir=self.work)
        store = os.path.join(scratch, "store")
        events = (
            spark.readStream.schema(EVENT_SCHEMA)
            .option("maxFilesPerTrigger", 1)
            .parquet(self.stream_dir)
            .withColumn("ts", F.col("ts").cast("timestamp"))
            .where(F.col("ts").isNotNull())
            .select(
                F.date_trunc("day", "ts").alias("day"),
                "event_type",
                F.floor(F.col("value") * 100 + 0.5).cast("bigint").alias("cents"),
            )
        )
        with self._span("sink", STREAM_CALL):
            t0 = time.perf_counter()
            query = rollup.streaming_rollup_update(
                events,
                store,
                ["day", "event_type"],
                sums={"cents_sum": F.sum("cents")},
                mins={"min_cents": F.min("cents")},
                maxs={"max_cents": F.max("cents")},
                checkpoint_dir=os.path.join(scratch, "checkpoint"),
            )
            query.awaitTermination()
            drain_s = time.perf_counter() - t0
        progress = query.recentProgress
        add_batch = sum(p["durationMs"].get("addBatch", 0) for p in progress) / 1000.0
        trigger = sum(p["durationMs"].get("triggerExecution", 0) for p in progress) / 1000.0
        self.stream_log.append(
            {
                "pass": self.pass_no,
                "batches": sum(1 for p in progress if p["numInputRows"] > 0),
                "add_batch_s": add_batch,
                "overhead_s": trigger - add_batch,
                "store_bytes": _dir_bytes(store),
                "events_per_s": self.n_events / drain_s,
            }
        )
        return store, scratch

    def _store_frame(self, store: str):
        """The stream's store as q121 projects its result."""
        from pyspark.sql import functions as F

        from demy_spark.streaming import rollup

        return rollup.read_rollup_store(self.spark, store).select(
            "day",
            "event_type",
            F.col("n").cast("long").alias("n"),
            (F.col("cents_sum") / 100.0).alias("total_value"),
            (F.col("min_cents") / 100.0).alias("min_value"),
            (F.col("max_cents") / 100.0).alias("max_value"),
            (F.expr("(2 * cents_sum + n) div (2 * n)") / 100.0).alias("avg_value"),
        )

    def run_call(self, name: str, collect: bool) -> float:
        from digest import arrow_digest

        from demy_spark import queries

        spark, sc = self.spark, self.spark.sparkContext
        call_id = f"p{self.pass_no}:{name}"
        spark.catalog.clearCache()
        conf_before = dict(spark.conf.getAll)
        sc.setJobGroup(f"{self.workload}:{name}", call_id)
        sc.setLocalProperty(CALL_PROP, call_id)
        if self.tracer:
            self.tracer.begin_call(call_id)
        ok, scratch, err, table = True, None, None, None
        t0, e0 = time.perf_counter(), time.time()
        try:
            if name == STREAM_CALL:
                store, scratch = self._drain()
            else:
                with self._span("queries", name):
                    df = queries.REGISTRY[name].fn(spark, self.sf_dir)
                if collect:
                    with self._span("sink", "collect"):
                        table = df.toArrow()
                else:
                    with self._span("sink", "noop"):
                        df.write.format("noop").mode("overwrite").save()
        except Exception:  # noqa: BLE001 - a failed call is counted, the run goes on
            ok, err = False, f"{name}: {traceback.format_exc(limit=3)}"
        dt, e1 = time.perf_counter() - t0, time.time()
        if self.tracer:
            self.tracer.end_call()
        sc.setLocalProperty(CALL_PROP, None)
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
        if ok and collect:  # the check, untimed
            try:
                if name == STREAM_CALL:
                    table = self._store_frame(store).toArrow()
                got = arrow_digest(table)
                want = self.digests[STREAM_ORACLE if name == STREAM_CALL else name]
                if got != want:
                    ok, err = False, f"{name}: digest {got} != pinned {want}"
            except Exception:  # noqa: BLE001
                ok, err = False, f"{name}: {traceback.format_exc(limit=3)}"
        if scratch:
            shutil.rmtree(scratch, ignore_errors=True)
        cache_left = self._cache_entries()
        conf_after = dict(spark.conf.getAll)
        changed = {k for k in conf_before.keys() | conf_after.keys() if conf_before.get(k) != conf_after.get(k)}
        for k in changed:
            if k in conf_before:
                spark.conf.set(k, conf_before[k])
            else:
                spark.conf.unset(k)
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.errors.append(err)
        self.call_log.append(
            {
                "pass": self.pass_no,
                "call": name,
                "id": call_id,
                "s": dt,
                "window": (e0, e1),
                "cache_left": cache_left,
                "conf_delta": sorted(changed),
                "ok": ok,
            }
        )
        return dt

    def run_pass(self, collect: bool = False, permute: bool = True) -> float:
        order = list(self.calls)
        if permute:
            self.rng.shuffle(order)
        self.pass_no += 1
        return sum(self.run_call(name, collect) for name in order)

    def steady(self, min_passes: int = 3) -> list[int]:
        """Passes in seed-permuted order until ``seconds`` have passed;
        the pass numbers."""
        passes: list[int] = []
        t0 = time.perf_counter()
        while len(passes) < min_passes or time.perf_counter() - t0 < self.seconds:
            self.run_pass()
            passes.append(self.pass_no)
        return passes

    def median_pass(self, passes: list[int]) -> float:
        """Sum over the calls of each call's median time in ``passes``."""
        per_call: dict[str, list[float]] = {}
        for c in self.calls_of(passes):
            per_call.setdefault(c["call"], []).append(c["s"])
        return sum(statistics.median(v) for v in per_call.values())

    def peak_rss_mb(self) -> float:
        jvm_pid = self.spark._jvm.java.lang.ProcessHandle.current().pid()
        return (_vm_hwm_kb("self") + _vm_hwm_kb(jvm_pid)) / 1024.0

    def calls_of(self, passes: list[int]) -> list[dict]:
        return [c for c in self.call_log if c["pass"] in passes]

    # -- traced run -----------------------------------------------------

    def traced(self) -> dict:
        """A separate session with the event log on. After one discarded
        warm pass it runs pairs of passes, one untraced and one traced,
        which goes first alternating, until ``seconds`` have passed; the
        untraced passes of the same session give the spans' overhead."""
        import tracing

        log_dir = os.path.join(self.work, "event-log")
        os.makedirs(log_dir)
        self.stop_session()
        self.start_session(event_log=log_dir)
        self.stage_inputs()
        tracer = tracing.Tracer(self.spark.sparkContext)
        self.run_pass()  # warm the new session; not reported
        times: dict[bool, list[float]] = {True: [], False: []}
        passes: list[int] = []
        t0, pairs = time.perf_counter(), 0
        while pairs < 2 or time.perf_counter() - t0 < self.seconds:
            for on in (False, True) if pairs % 2 == 0 else (True, False):
                if on:
                    self.tracer = tracer
                    tracer.install()
                try:
                    times[on].append(self.run_pass())
                finally:
                    if on:
                        tracer.uninstall()
                        self.tracer = None
                        passes.append(self.pass_no)
            pairs += 1
        self.stop_session()  # flushes the event log
        specs = [
            {
                "calls": {c["id"]: c["call"] for c in self.calls_of([p])},
                "windows": [c["window"] for c in self.calls_of([p])],
            }
            for p in passes
        ]
        summary = tracing.summarize(tracer.spans, log_dir, specs)
        return {"times": times[True], "untraced_times": times[False], "passes": passes,
                "summary": summary, "spans": tracer.spans}


def per_layer_metrics(bench: Bench, t: dict, steady_passes: list[int]) -> dict[str, float]:
    med = statistics.median
    recs = t["summary"]["passes"]
    m: dict[str, float] = {}
    for lay in recs[0]["layers"]:
        for k in ("calls", "self_s", "jobs"):
            m[f"{lay}.{k}"] = med(r["layers"][lay][k] for r in recs)
    for k in recs[0]["spark"]:
        m[f"spark.{k}"] = med(r["spark"][k] for r in recs)
    m["driver.self_s"] = med(r["driver_self_s"] for r in recs)
    streams = [s for s in bench.stream_log if s["pass"] in t["passes"]]
    for k in ("batches", "add_batch_s", "overhead_s", "store_bytes", "events_per_s"):
        m[f"streaming.{k}"] = med(s[k] for s in streams) if streams else 0
    m["session.start_s"] = bench.session_start_s[0]  # the one inside setup_s
    last = bench.calls_of([steady_passes[-1]])
    m["session.cache_left"] = sum(c["cache_left"] for c in last)
    m["session.conf_delta"] = sum(len(c["conf_delta"]) for c in last)
    m["trace.pass_s"] = med(t["times"])
    m["trace.untraced_pass_s"] = med(t["untraced_times"])
    m["trace.overhead_ratio"] = m["trace.pass_s"] / m["trace.untraced_pass_s"]
    return m


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "demy_spark", "session.py")):
        print(f"perfbench: no demy_spark package under {ROOT}; run from a checkout", file=sys.stderr)
        return 2

    out_dir = os.path.join(ROOT, ".perfbench")
    os.makedirs(out_dir, exist_ok=True)
    work = tempfile.mkdtemp(prefix="work-", dir=out_dir)
    os.makedirs(os.path.join(work, "tmp"))
    # every temp file (Python, JVM, python workers, q121/q79 scratch
    # stores) lands inside the checkout
    os.environ["TMPDIR"] = tempfile.tempdir = os.path.join(work, "tmp")
    # no JVM (spark-submit's launcher included) keeps a perf-data file
    # in /tmp, outside the checkout
    os.environ["JAVA_TOOL_OPTIONS"] = " ".join(
        filter(None, [os.environ.get("JAVA_TOOL_OPTIONS"), "-XX:-UsePerfData"])
    )
    os.environ["TZ"] = "UTC"
    time.tzset()
    # a bounded driver heap keeps the JVM small on a shared host
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    sys.path.insert(0, ROOT)

    bench = Bench(args.workload, args.seed, args.seconds, work)
    try:
        setup_s = bench.setup()
        phases = {"setup": since_process_start()}
        # a cold pass keeps the listed order: whichever call runs first
        # pays the JVM's first-query warm-up, so a permuted cold pass
        # would move with the seed rather than with the program
        bench.run_pass(collect=True, permute=False)
        cold_passes = [bench.pass_no]
        phases["cold"] = since_process_start()
        steady_passes = bench.steady()
        phases["steady"] = since_process_start()
        rss = bench.peak_rss_mb()
        # the host's speed drifts over tens of seconds, so a second cold
        # pass samples it at the end of the run, not right after the first
        for _ in range(COLD_PASSES[args.workload] - 1):
            bench.restart()
            bench.run_pass(collect=True, permute=False)
            cold_passes.append(bench.pass_no)
        phases["cold_again"] = since_process_start()
        cold_s = bench.median_pass(cold_passes)
        pass_s = bench.median_pass(steady_passes)
        traced = bench.traced() if args.trace else None
        phases["traced"] = since_process_start()
    finally:
        bench.stop_session()
        stop_jvm()
        shutil.rmtree(work, ignore_errors=True)

    per_call: dict[str, dict] = {}
    for c in bench.call_log:
        d = per_call.setdefault(c["call"], {"cold_s": [], "steady_s": [], "cache_left": 0, "conf_delta": []})
        if c["pass"] in cold_passes:
            d["cold_s"].append(c["s"])
        elif c["pass"] in steady_passes:
            d["steady_s"].append(c["s"])
            d["cache_left"] = c["cache_left"]
            d["conf_delta"] = c["conf_delta"]
    report = {
        "workload": args.workload,
        "seed": args.seed,
        "phases_end_s": phases,
        "steady_totals_s": _quartiles(
            [sum(c["s"] for c in bench.calls_of([p])) for p in steady_passes]
        ),
        "error_rate": bench.failed / bench.attempted,
        "errors": bench.errors,
        "calls": per_call,
    }
    if args.trace:
        per_layer = per_layer_metrics(bench, traced, steady_passes)
        recs = traced["summary"]["passes"]
        report["trace"] = {
            "call_jobs": recs[-1]["call_jobs"],
            "call_jobs_repeat": all(r["call_jobs"] == recs[0]["call_jobs"] for r in recs),
            "unattributed_jobs": sum(r["unattributed_jobs"] for r in recs),
            "pass_s": _quartiles(traced["times"]),
            "untraced_pass_s": _quartiles(traced["untraced_times"]),
        }
        units = per_layer_units()
        metrics = {k: {"value": per_layer[k], "unit": u} for k, u in units.items()}
        with open(os.path.join(out_dir, f"trace-{args.workload}-seed{args.seed}.json"), "w") as fh:
            json.dump({"report": report, "spans": traced["spans"]}, fh)
    else:
        values = {"setup_s": setup_s, "cold_s": cold_s, "pass_s": pass_s, "peak_rss_mb": rss}
        metrics = {k: {"value": values[k], "unit": u} for k, u in END_TO_END.items()}
    phases["stop"] = since_process_start()
    print(json.dumps(report))
    print(
        json.dumps(
            {
                "correct": bench.failed == 0,
                "attempted": bench.attempted,
                "failed": bench.failed,
                "metrics": metrics,
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
