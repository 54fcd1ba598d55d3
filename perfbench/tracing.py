"""Per-layer tracing for the benchmark's traced run (``--trace 1``).

Tracing lives entirely in the benchmark: it wraps the public functions
of each engine layer where their callers look them up (for example
``api`` binds ``render_thread_pages`` at import, so the name is patched
in ``timesearch_spark.api``), counts py4j ``send_command`` round trips,
tags every span's Spark jobs with ``setJobGroup`` and, after the session
stops, reads Spark's event log for task metrics and the ``python*`` SQL
accumulables.  Jobs belong to the span whose wall-clock window contains
their submission: the loop is closed, so one span runs at a time.

With tracing off (``enabled=False``) nothing is patched and every hook
is a no-op.
"""

from __future__ import annotations

import functools
import json
import os
import statistics
import threading
import time
from collections import Counter
from contextlib import contextmanager

SPANS = ("bulk", "tail", "listing", "render", "refresh", "curate")

#: (suffix, unit) of the per-span engine family.
SPAN_FAMILY = (
    ("py4j_calls", "count"), ("jobs", "count"), ("stages", "count"),
    ("gap_s", "s"), ("task_s", "s"), ("cpu_s", "s"), ("gc_s", "s"),
    ("shuffle_read_mb", "MB"), ("shuffle_write_mb", "MB"),
    ("spill_mb", "MB"), ("skew", "ratio"), ("python_s", "s"),
)

#: Layer metrics taken from wrapped functions and streaming progress.
MODULE_METRICS = (
    ("session.start_s", "s"),
    ("sources.ndjson.read_s", "s"),
    ("api.ingest_jsonfile.self_s", "s"),
    ("api.offline_reading.self_s", "s"),
    ("api.offline_reading.rerender_ratio", "ratio"),
    ("streaming.livestream.add_batch_p50_s", "s"),
    ("streaming.livestream.overhead_p50_s", "s"),
    ("streaming.store.merges", "count"),
    ("streaming.store.merge_p50_s", "s"),
    ("streaming.store.buckets_per_merge", "count"),
    ("streaming.store.files_written", "count"),
    ("streaming.store.mb_written", "MB"),
    ("streaming.store.snapshot_s", "s"),
    ("operators.upsert.construct_s", "s"),
    ("fs.calls", "count"),
    ("fs.s", "s"),
    ("operators.exports.write_breakdown_s", "s"),
    ("operators.exports.write_index_s", "s"),
    ("operators.exports.write_thread_docs_s", "s"),
    ("operators.exports.pages_written", "count"),
    ("operators.trees.construct_s", "s"),
    ("operators.pipeline.construct_s", "s"),
    ("operators.pipeline.construct_jobs", "count"),
    ("operators.pipeline.action_s", "s"),
    ("operators.pipeline.kept_ratio", "ratio"),
)

#: The workload-phase metrics (Workload.phase_metrics) and the tracing
#: overhead (traced minus untraced cycles of the same run).
PHASE_METRICS = (
    ("ingest_rows_per_s", "rows/s"), ("tail_batch_p50_s", "s"),
    ("tail_batch_count", "count"), ("tail_rows_per_s", "rows/s"),
    ("store_bytes_per_input_byte", "ratio"), ("listing_s", "s"),
    ("render_pages_per_s", "pages/s"), ("refresh_s", "s"),
    ("curate_docs_per_s", "docs/s"), ("failed_op_ratio", "fraction"),
    ("trace.overhead_cycle_s", "s"),
    ("trace.overhead_items_per_s", "1/s"),
)


def per_layer_names() -> list[tuple[str, str]]:
    """Every per-layer metric a traced run emits, in BENCHMARK.json order."""
    fam = [(f"{s}.{m}", u) for s in SPANS for m, u in SPAN_FAMILY]
    return fam + list(MODULE_METRICS) + list(PHASE_METRICS)


# Functions wrapped for timing: (module, owner attribute path, metric).
_WRAPS = (
    ("timesearch_spark.api", "ingest_jsonfile", "api.ingest_jsonfile"),
    ("timesearch_spark.api", "offline_reading", "api.offline_reading"),
    ("timesearch_spark.api", "render_thread_pages", "operators.trees"),
    ("timesearch_spark.sources.ndjson", "read_raw_file",
     "sources.ndjson.read"),
    ("timesearch_spark.streaming.store", "upsert_snapshot",
     "operators.upsert"),
    ("timesearch_spark.streaming.store", "ParquetMergeStore.snapshot",
     "streaming.store.snapshot"),
    ("timesearch_spark.operators.exports", "write_breakdown",
     "operators.exports.write_breakdown"),
    ("timesearch_spark.operators.exports", "write_index",
     "operators.exports.write_index"),
    ("timesearch_spark.operators.exports", "write_thread_docs",
     "operators.exports.write_thread_docs"),
    ("timesearch_spark.operators.pipeline", "curate_corpus",
     "operators.pipeline.construct"),
)
_FS_METHODS = ("ls", "exists", "is_dir", "mkdirs", "read_text",
               "write_text_atomic", "delete", "rename", "size",
               "open_binary", "open_write", "write_bytes",
               "create_exclusive")


def _median(xs) -> float:
    return float(statistics.median(xs)) if xs else 0.0


class Tracer:
    def __init__(self, spark, enabled: bool):
        self.spark = spark
        self.enabled = enabled
        #: set by the workload loop: record only while a traced cycle runs
        self.active = False
        self.current: str | None = None
        self.windows: list[tuple[str, float, float]] = []
        self.calls: dict[str, list[tuple[float, float]]] = {}
        self.results: dict[str, list] = {}
        self.py4j: Counter = Counter()
        self.notes: dict[str, list[float]] = {}
        self.traced_cycles = 0
        self._local = threading.local()
        self._patches: list[tuple[object, str, object]] = []
        if enabled:
            self._install()

    # -- hooks the workloads call ---------------------------------------------

    @contextmanager
    def span(self, name: str):
        if not self.active:
            yield
            return
        sc = self.spark.sparkContext
        self.current = name
        sc.setJobGroup(name, f"perfbench {name}")
        t0 = time.time()
        try:
            yield
        finally:
            self.windows.append((name, t0, time.time()))
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
            self.current = None

    @contextmanager
    def phase(self, name: str):
        """A sub-window of the current span (e.g. curate construct vs
        action), tagged ``<span>/<phase>``."""
        if not self.active:
            yield
            return
        sc = self.spark.sparkContext
        span = self.current
        tag = f"{span}/{name}"
        sc.setJobGroup(tag, f"perfbench {tag}")
        t0 = time.time()
        try:
            yield
        finally:
            self.windows.append((tag, t0, time.time()))
            sc.setJobGroup(span, f"perfbench {span}")

    def note(self, key: str, value: float) -> None:
        if self.active:
            self.notes.setdefault(key, []).append(value)

    def cycle_done(self, traced: bool) -> None:
        if traced:
            self.traced_cycles += 1

    # -- patching ---------------------------------------------------------------

    def _stack(self) -> list[float]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def _timed(self, orig, metric: str, after=None):
        tracer = self

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            if not tracer.active:
                return orig(*args, **kwargs)
            stack = tracer._stack()
            stack.append(0.0)
            before = after[0](args) if after else None
            t0 = time.perf_counter()
            try:
                res = orig(*args, **kwargs)
            finally:
                dur = time.perf_counter() - t0
                child = stack.pop()
                if stack:
                    stack[-1] += dur
                tracer.calls.setdefault(metric, []).append((dur, dur - child))
            if after:
                tracer.results.setdefault(metric, []).append(
                    after[1](args, before, res))
            return res

        return wrapper

    def _patch(self, owner, attr: str, metric: str, after=None) -> None:
        # a class attribute is patched as the plain function it holds
        orig = (owner.__dict__[attr] if isinstance(owner, type)
                else getattr(owner, attr))
        self._patches.append((owner, attr, orig))
        setattr(owner, attr, self._timed(orig, metric, after))

    def _install(self) -> None:
        import importlib

        for mod_name, path, metric in _WRAPS:
            owner = importlib.import_module(mod_name)
            *parents, attr = path.split(".")
            for p in parents:
                owner = getattr(owner, p)
            after = None
            if metric == "operators.exports.write_thread_docs":
                after = (lambda a: None, lambda a, b, res: res)
            self._patch(owner, attr, metric, after)

        from timesearch_spark.fs import LocalFS
        from timesearch_spark.streaming.store import ParquetMergeStore

        for m in _FS_METHODS:
            self._patch(LocalFS, m, "fs")
        self._patch(ParquetMergeStore, "merge", "streaming.store.merge",
                    after=(_store_version, _merge_written))

        client = self.spark.sparkContext._gateway._gateway_client
        cls = type(client)
        orig_send = cls.send_command
        tracer = self

        def send_command(this, *args, **kwargs):
            if tracer.active and tracer.current is not None:
                tracer.py4j[tracer.current] += 1
            return orig_send(this, *args, **kwargs)

        self._patches.append((cls, "send_command", orig_send))
        cls.send_command = send_command

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._patches):
            setattr(owner, attr, orig)
        self._patches.clear()

    # -- results ----------------------------------------------------------------

    def per_layer(self, wl, event_dir: str, session_s: float,
                  e2e: dict) -> dict[str, tuple[float, str]]:
        self.uninstall()
        n = max(1, self.traced_cycles)
        jobs = _read_event_log(event_dir)
        self.jobs = jobs
        out: dict[str, tuple[float, str]] = {}
        for span in SPANS:
            for k, v in self._span_family(span, jobs).items():
                out[f"{span}.{k}"] = v

        def total(metric, self_time=False):
            return sum(c[1] if self_time else c[0]
                       for c in self.calls.get(metric, [])) / n

        merges = self.calls.get("streaming.store.merge", [])
        written = [r for r in self.results.get("streaming.store.merge", [])
                   if r is not None]
        batches = wl.batches
        construct_windows = [w for w in self.windows
                             if w[0] == "curate/construct"]
        action_windows = [w for w in self.windows if w[0] == "curate/action"]
        out.update({
            "session.start_s": (session_s, "s"),
            "sources.ndjson.read_s": (total("sources.ndjson.read"), "s"),
            "api.ingest_jsonfile.self_s":
                (total("api.ingest_jsonfile", True), "s"),
            "api.offline_reading.self_s":
                (total("api.offline_reading", True), "s"),
            "api.offline_reading.rerender_ratio":
                (_median(self.notes.get("rerender_ratio")), "ratio"),
            "streaming.livestream.add_batch_p50_s": (_median(
                [b["durationMs"].get("addBatch", 0) / 1e3 for b in batches]),
                "s"),
            "streaming.livestream.overhead_p50_s": (_median(
                [(b["durationMs"].get("triggerExecution", 0)
                  - b["durationMs"].get("addBatch", 0)) / 1e3
                 for b in batches]), "s"),
            "streaming.store.merges": (len(merges) / n, "count"),
            "streaming.store.merge_p50_s":
                (_median([c[0] for c in merges]), "s"),
            "streaming.store.buckets_per_merge":
                (_median([w[0] for w in written]), "count"),
            "streaming.store.files_written":
                (sum(w[1] for w in written) / n, "count"),
            "streaming.store.mb_written":
                (sum(w[2] for w in written) / 1e6 / n, "MB"),
            "streaming.store.snapshot_s":
                (total("streaming.store.snapshot"), "s"),
            "operators.upsert.construct_s": (total("operators.upsert"), "s"),
            "fs.calls": (len(self.calls.get("fs", [])) / n, "count"),
            "fs.s": (total("fs"), "s"),
            "operators.exports.write_breakdown_s":
                (total("operators.exports.write_breakdown"), "s"),
            "operators.exports.write_index_s":
                (total("operators.exports.write_index"), "s"),
            "operators.exports.write_thread_docs_s":
                (total("operators.exports.write_thread_docs"), "s"),
            "operators.exports.pages_written": (sum(
                self.results.get("operators.exports.write_thread_docs", []))
                / n, "count"),
            "operators.trees.construct_s": (total("operators.trees"), "s"),
            "operators.pipeline.construct_s":
                (total("operators.pipeline.construct"), "s"),
            "operators.pipeline.construct_jobs": (sum(
                1 for j in jobs.values()
                if _in_windows(j["submit"], construct_windows)) / n, "count"),
            "operators.pipeline.action_s": (sum(
                w[2] - w[1] for w in action_windows) / n, "s"),
            "operators.pipeline.kept_ratio":
                (_median(self.notes.get("kept_ratio")), "ratio"),
        })
        out.update(wl.phase_metrics())
        from workloads import end_to_end

        untraced = end_to_end(wl.merged_samples(0))
        traced = end_to_end(wl.merged_samples(1))
        for k in ("cycle_s", "items_per_s"):
            out[f"trace.overhead_{k}"] = (traced[k][0] - untraced[k][0],
                                          traced[k][1])
        self.e2e = {"untraced_cycles": untraced, "traced_cycles": traced,
                    "run": e2e}
        return {k: out[k] for k, _ in per_layer_names()}

    def _span_family(self, span: str, jobs: dict) -> dict:
        wins = [w for w in self.windows if w[0] == span]
        occ = max(1, len(wins))
        mine = [j for j in jobs.values() if _in_windows(j["submit"], wins)]
        intervals = sorted((j["submit"], j["end"]) for j in mine)
        busy, cur_s, cur_e = 0.0, None, None
        for s, e in intervals:
            if cur_e is None or s > cur_e:
                if cur_e is not None:
                    busy += cur_e - cur_s
                cur_s, cur_e = s, e
            else:
                cur_e = max(cur_e, e)
        if cur_e is not None:
            busy += cur_e - cur_s
        wall = sum(e - s for _, s, e in wins)
        stages = [st for j in mine for st in j["stages"].values()
                  if st["tasks"]]
        tot = Counter()
        skew = 0.0
        for st in stages:
            tot.update(st["sum"])
            durs = sorted(st["tasks"])
            if len(durs) >= 2 and _median(durs) > 0:
                skew = max(skew, durs[-1] / _median(durs))
        return {
            "py4j_calls": (self.py4j[span] / occ, "count"),
            "jobs": (len(mine) / occ, "count"),
            "stages": (len(stages) / occ, "count"),
            "gap_s": (max(0.0, wall - busy) / occ, "s"),
            "task_s": (tot["run_ms"] / 1e3 / occ, "s"),
            "cpu_s": (tot["cpu_ns"] / 1e9 / occ, "s"),
            "gc_s": (tot["gc_ms"] / 1e3 / occ, "s"),
            "shuffle_read_mb": (tot["sr_bytes"] / 1e6 / occ, "MB"),
            "shuffle_write_mb": (tot["sw_bytes"] / 1e6 / occ, "MB"),
            "spill_mb": (tot["spill_bytes"] / 1e6 / occ, "MB"),
            "skew": (skew, "ratio"),
            "python_s": (tot["python_ms"] / 1e3 / occ, "s"),
        }

    def write_spans(self, path: str, diag: dict, metrics: dict) -> None:
        doc = {
            "diagnostics": diag,
            "end_to_end": self.e2e,
            "spans": [{"name": n, "start": s, "end": e}
                      for n, s, e in self.windows],
            "calls": {k: {"n": len(v), "total_s": sum(c[0] for c in v),
                          "self_s": sum(c[1] for c in v)}
                      for k, v in sorted(self.calls.items())},
            "py4j_calls": dict(self.py4j),
            "jobs": [{"id": i, "group": j["group"], "submit": j["submit"],
                      "end": j["end"], "stages": len(j["stages"])}
                     for i, j in sorted(self.jobs.items())],
            "metrics": {k: {"value": v, "unit": u}
                        for k, (v, u) in metrics.items()},
        }
        tmp = path + ".tmp"
        with open(tmp, "w", encoding="utf-8") as f:
            json.dump(doc, f, indent=1)
        os.replace(tmp, path)


def _in_windows(t: float, windows) -> bool:
    return any(s <= t <= e for _, s, e in windows)


def _store_version(args) -> int:
    return _pointer(args[0]).get("version", 0)


def _pointer(store) -> dict:
    try:
        with open(os.path.join(store.path, "LATEST"), encoding="utf-8") as f:
            return json.load(f)
    except OSError:
        return {}


def _merge_written(args, before: int, res):
    """(buckets, parquet files, bytes) a merge published, or None for an
    empty batch that committed no version."""
    store = args[0]
    ptr = _pointer(store)
    v = ptr.get("version", 0)
    if v == before:
        return None
    buckets = sum(1 for b in ptr.get("buckets", {}).values() if b == v)
    files = nbytes = 0
    for d in (os.path.join(store.path, "snapshot", f"v={v}"),
              os.path.join(store.path, "edits", f"v={v}")):
        for root, _, names in os.walk(d):
            for name in names:
                if name.endswith(".parquet"):
                    files += 1
                    nbytes += os.path.getsize(os.path.join(root, name))
    return buckets, files, nbytes


def _read_event_log(event_dir: str) -> dict:
    """job id -> {group, submit, end, stages: {id: {tasks, sum}}} from
    every event-log file in ``event_dir`` (seconds since the epoch)."""
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    if not os.path.isdir(event_dir):
        return jobs
    paths = sorted(os.path.join(d, name) for d, _, names in os.walk(event_dir)
                   for name in names if name.startswith("events_"))
    for path in paths:
        with open(path, encoding="utf-8") as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    jid = ev["Job ID"]
                    props = ev.get("Properties") or {}
                    jobs[jid] = {
                        "group": props.get("spark.jobGroup.id"),
                        "submit": ev["Submission Time"] / 1e3,
                        "end": ev["Submission Time"] / 1e3,
                        "stages": {},
                    }
                    for sid in ev.get("Stage IDs", []):
                        stage_job[sid] = jid
                elif kind == "SparkListenerJobEnd":
                    if ev["Job ID"] in jobs:
                        jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1e3
                elif kind == "SparkListenerTaskEnd":
                    jid = stage_job.get(ev["Stage ID"])
                    if jid is None:
                        continue
                    st = jobs[jid]["stages"].setdefault(
                        ev["Stage ID"], {"tasks": [], "sum": Counter()})
                    info = ev.get("Task Info", {})
                    st["tasks"].append(
                        (info.get("Finish Time", 0)
                         - info.get("Launch Time", 0)) / 1e3)
                    m = ev.get("Task Metrics") or {}
                    sr = m.get("Shuffle Read Metrics", {})
                    sw = m.get("Shuffle Write Metrics", {})
                    st["sum"].update({
                        "run_ms": m.get("Executor Run Time", 0),
                        "cpu_ns": m.get("Executor CPU Time", 0),
                        "gc_ms": m.get("JVM GC Time", 0),
                        "sr_bytes": sr.get("Remote Bytes Read", 0)
                        + sr.get("Local Bytes Read", 0),
                        "sw_bytes": sw.get("Shuffle Bytes Written", 0),
                        "spill_bytes": m.get("Memory Bytes Spilled", 0)
                        + m.get("Disk Bytes Spilled", 0),
                        "python_ms": sum(
                            _as_number(a.get("Update"))
                            for a in info.get("Accumulables", [])
                            if _is_python_time(a.get("Name", ""))),
                    })
    return jobs


def _is_python_time(name: str) -> bool:
    return name == "time to run Python workers"


def _as_number(v) -> float:
    try:
        return float(v)
    except (TypeError, ValueError):
        return 0.0
