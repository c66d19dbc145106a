"""Traced run: spans around each layer's public functions, and Spark's
own event log, joined per job.

A layer is a module of ``demy_spark`` (``LAYERS``). ``Tracer.install``
wraps every public function of those modules, from outside, in a span
that records name, layer, start, end, parent span and call id, and
patches every module global that pointed at the original. While a span
is open its id rides on the submitting thread's Spark local properties
(``perfbench.span``), next to the call's id (``perfbench.call``), so
each job in the event log names its span exactly; stream threads
inherit the call id from the thread that started the query.

``summarize`` reads the uncompressed event log and attributes every job
to one call and to the layer of its span, then reports per-layer calls,
self time and jobs, and Spark's task metrics, per pass.
"""

from __future__ import annotations

import contextlib
import functools
import glob
import importlib
import json
import os
import sys
import threading
import time
import types

# layer name -> module (or package prefix) it covers: the layers the
# workloads' calls reach (topic, postag, orchestrator and the other
# operators are reached by no workload, so they would only read 0)
LAYERS = {
    "io": "demy_spark.io",
    "functions": "demy_spark.functions",
    "geo": "demy_spark.geo",
    "streaming": "demy_spark.streaming",
    "operators.fuzzy_lookup": "demy_spark.operators.fuzzy_lookup",
    "operators.dedup": "demy_spark.operators.dedup",
    "operators.graph": "demy_spark.operators.graph",
    "operators.temporal": "demy_spark.operators.temporal",
}
# The benchmark itself opens two more layers around each call: "queries"
# for the registry entry point (plan building in demy_spark.queries) and
# "sink" for what forces the result (noop write, collect, stream drain).
REPORTED_LAYERS = ["queries", *LAYERS, "sink"]

SPAN_PROP = "perfbench.span"
CALL_PROP = "perfbench.call"

SPARK_METRICS = (
    "jobs",
    "stages",
    "tasks",
    "scheduler_delay_s",
    "executor_cpu_s",
    "executor_run_s",
    "deserialize_s",
    "gc_s",
    "input_bytes",
    "shuffle_read_bytes",
    "shuffle_write_bytes",
    "spill_bytes",
)


def layer_of(module: str) -> str | None:
    for layer, prefix in LAYERS.items():
        if module == prefix or module.startswith(prefix + "."):
            return layer
    return None


class Tracer:
    """Spans kept in memory; one span stack per thread."""

    def __init__(self, sc) -> None:
        # span ids ride on this SparkContext's local properties
        self._sc = sc
        self.spans: list[dict] = []
        self.call_id: str | None = None
        self._stacks: dict[int, list[int]] = {}
        self._call_thread: int | None = None
        self._lock = threading.Lock()
        self._patched: list[tuple[dict, str, object]] = []

    def open(self, layer: str, name: str) -> int:
        me = threading.get_ident()
        with self._lock:
            frames = self._stacks.setdefault(me, [])
            if frames:
                parent = frames[-1]
            else:
                # a callback thread (foreachBatch) nests under the span
                # the calling thread is waiting in
                caller = self._stacks.get(self._call_thread) or [None]
                parent = caller[-1]
            sid = len(self.spans)
            self.spans.append(
                {
                    "id": sid,
                    "parent": parent,
                    "call": self.call_id,
                    "layer": layer,
                    "name": name,
                    "start": time.time(),
                    "end": None,
                }
            )
            frames.append(sid)
        self._sc.setLocalProperty(SPAN_PROP, str(sid))
        return sid

    def close(self, sid: int) -> None:
        end = time.time()
        with self._lock:
            frames = self._stacks[threading.get_ident()]
            self.spans[sid]["end"] = end
            frames.pop()
            top = frames[-1] if frames else None
        self._sc.setLocalProperty(SPAN_PROP, None if top is None else str(top))

    @contextlib.contextmanager
    def span(self, layer: str, name: str):
        sid = self.open(layer, name)
        try:
            yield sid
        finally:
            self.close(sid)

    def begin_call(self, call_id: str) -> None:
        self.call_id = call_id
        self._call_thread = threading.get_ident()

    def end_call(self) -> None:
        self.call_id = None

    def _wrap(self, fn, layer: str):
        name = f"{fn.__module__}.{fn.__name__}"
        tracer = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            sid = tracer.open(layer, name)
            try:
                return fn(*args, **kwargs)
            finally:
                tracer.close(sid)

        return wrapper

    def install(self) -> int:
        """Wrap the public functions of every layer module and repoint
        every ``demy_spark`` module global that referenced one. Returns
        the number of functions wrapped."""
        for prefix in LAYERS.values():
            importlib.import_module(prefix)
        mods = [
            m
            for name, m in list(sys.modules.items())
            if (name == "demy_spark" or name.startswith("demy_spark.")) and m
        ]
        wrappers: dict[int, object] = {}
        for m in mods:
            layer = layer_of(m.__name__)
            if layer is None:
                continue
            for attr, fn in vars(m).items():
                if (
                    isinstance(fn, types.FunctionType)
                    and not attr.startswith("_")
                    and fn.__module__ == m.__name__
                ):
                    wrappers[id(fn)] = self._wrap(fn, layer)
        for m in mods:
            ns = vars(m)
            for attr, val in list(ns.items()):
                w = wrappers.get(id(val))
                if w is not None and isinstance(val, types.FunctionType):
                    self._patched.append((ns, attr, val))
                    ns[attr] = w
        return len(wrappers)

    def uninstall(self) -> None:
        for ns, attr, val in reversed(self._patched):
            ns[attr] = val
        self._patched.clear()


def _self_times(spans: list[dict]) -> dict[int, float]:
    child = {s["id"]: 0.0 for s in spans}
    for s in spans:
        if s["parent"] is not None and s["parent"] in child:
            child[s["parent"]] += s["end"] - s["start"]
    return {s["id"]: max(0.0, s["end"] - s["start"] - child[s["id"]]) for s in spans}


def read_event_log(log_dir: str):
    """Jobs, stage completions and task ends from an uncompressed
    (possibly rolling) Spark event log directory."""
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    stages_done: list[int] = []
    tasks: list[dict] = []
    files = sorted(
        p for p in glob.glob(os.path.join(log_dir, "**", "*"), recursive=True)
        if os.path.isfile(p)
    )
    for path in files:
        with open(path, encoding="utf-8") as fh:
            for line in fh:
                head = line[:64]
                if "SparkListenerJobStart" in head:
                    e = json.loads(line)
                    props = e.get("Properties") or {}
                    jid = e["Job ID"]
                    jobs[jid] = {
                        "submit": e["Submission Time"] / 1000.0,
                        "end": None,
                        "call": props.get(CALL_PROP),
                        "span": props.get(SPAN_PROP),
                    }
                    for st in e.get("Stage IDs", []):
                        stage_job.setdefault(st, jid)
                elif "SparkListenerJobEnd" in head:
                    e = json.loads(line)
                    jobs[e["Job ID"]]["end"] = e["Completion Time"] / 1000.0
                elif "SparkListenerStageCompleted" in head:
                    e = json.loads(line)
                    stages_done.append(e["Stage Info"]["Stage ID"])
                elif "SparkListenerTaskEnd" in head:
                    tasks.append(json.loads(line))
    return jobs, stage_job, stages_done, tasks


def _task_metrics(e: dict) -> dict:
    m = e.get("Task Metrics") or {}
    info = e["Task Info"]
    run_ms = m.get("Executor Run Time", 0)
    deser_ms = m.get("Executor Deserialize Time", 0)
    duration = info["Finish Time"] - info["Launch Time"]
    delay = max(
        0,
        duration
        - run_ms
        - deser_ms
        - m.get("Result Serialization Time", 0)
        - info.get("Getting Result Time", 0),
    )
    sr = m.get("Shuffle Read Metrics") or {}
    sw = m.get("Shuffle Write Metrics") or {}
    inp = m.get("Input Metrics") or {}
    return {
        "scheduler_delay_s": delay / 1000.0,
        "executor_cpu_s": m.get("Executor CPU Time", 0) / 1e9,
        "executor_run_s": run_ms / 1000.0,
        "deserialize_s": deser_ms / 1000.0,
        "gc_s": m.get("JVM GC Time", 0) / 1000.0,
        "input_bytes": inp.get("Bytes Read", 0),
        "shuffle_read_bytes": sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0),
        "shuffle_write_bytes": sw.get("Shuffle Bytes Written", 0),
        "spill_bytes": m.get("Disk Bytes Spilled", 0),
    }


def _covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(lo, s), min(hi, e)) for s, e in intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def summarize(spans: list[dict], log_dir: str, passes: list[dict]) -> dict:
    """Per-pass attribution of the traced passes.

    ``passes`` holds ``{"calls": {call_id: call_name}, "windows":
    [(start, end), ...]}`` for each traced pass, one epoch-seconds
    window per call. Returns per pass the per-layer counts and
    self times, the Spark metrics, each call's job count, and the jobs
    no call or span claimed."""
    jobs, stage_job, stages_done, tasks = read_event_log(log_dir)
    by_id = {s["id"]: s for s in spans}
    self_t = _self_times(spans)
    call_pass = {cid: i for i, p in enumerate(passes) for cid in p["calls"]}
    out = []
    for p in passes:
        layers = {
            lay: {"calls": 0, "self_s": 0.0, "jobs": 0} for lay in REPORTED_LAYERS
        }
        spark = {k: 0 for k in SPARK_METRICS}
        out.append(
            {
                "layers": layers,
                "spark": spark,
                "call_jobs": {name: 0 for name in p["calls"].values()},
                "unattributed_jobs": 0,
                "wall_s": sum(e - s for s, e in p["windows"]),
                "job_intervals": [],
            }
        )
    for s in spans:
        i = call_pass.get(s["call"])
        if i is None:
            continue
        lay = out[i]["layers"][s["layer"]]
        lay["calls"] += 1
        lay["self_s"] += self_t[s["id"]]
    job_pass: dict[int, int] = {}
    for jid, j in jobs.items():
        i = call_pass.get(j["call"])
        if i is None:
            # no traced call claims it: count it if it ran inside one
            i = next(
                (k for k, p in enumerate(passes)
                 if any(s <= j["submit"] <= e for s, e in p["windows"])),
                None,
            )
            if i is not None:
                out[i]["unattributed_jobs"] += 1
            continue
        span = by_id.get(int(j["span"])) if j["span"] is not None else None
        rec = out[i]
        if span is None or span["call"] != j["call"]:
            rec["unattributed_jobs"] += 1
            continue
        job_pass[jid] = i
        rec["layers"][span["layer"]]["jobs"] += 1
        rec["call_jobs"][passes[i]["calls"][j["call"]]] += 1
        rec["spark"]["jobs"] += 1
        if j["end"] is not None:
            rec["job_intervals"].append((j["submit"], j["end"]))
    for st in stages_done:
        i = job_pass.get(stage_job.get(st))
        if i is not None:
            out[i]["spark"]["stages"] += 1
    for e in tasks:
        i = job_pass.get(stage_job.get(e["Stage ID"]))
        if i is None:
            continue
        sp = out[i]["spark"]
        sp["tasks"] += 1
        for k, v in _task_metrics(e).items():
            sp[k] += v
    for rec, p in zip(out, passes):
        jobs_in = rec.pop("job_intervals")
        covered = sum(_covered(jobs_in, s, e) for s, e in p["windows"])
        rec["driver_self_s"] = rec["wall_s"] - covered
    return {"passes": out}
