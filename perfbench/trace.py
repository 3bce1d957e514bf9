"""Spans around the engine's public functions, Spark job metrics from the
local UI's REST API, and the per-layer metrics computed from both.

With tracing off nothing is wrapped and ``Tracer.span`` only yields, so
an untraced run executes the engine's code unchanged.

The engine's source is not touched: ``Tracer.install`` replaces each
listed function, in its defining module and in every loaded engine
module that imported it by name, with a wrapper that opens a span.
Spans record name, layer, start, end and parent, stay in memory, and
are written out when the run ends. Each Spark job belongs to the
innermost span open when it was submitted (the loop is closed: one
task at a time)."""

from __future__ import annotations

import contextlib
import datetime as dt
import functools
import importlib
import json
import statistics
import sys
import time
import urllib.request

from perfbench import oracle

# (module, function, span name). The layer is the span name's prefix.
WRAPPED = [
    ("sling_cli_spark.sources.files", "read_source", "files.read_source"),
    ("sling_cli_spark.operators.inference", "infer_and_cast",
     "inference.infer_and_cast"),
    ("sling_cli_spark.plans.replication", "run_replication",
     "replication.run_replication"),
    ("sling_cli_spark.runner", "run", "runner.run"),
    ("sling_cli_spark.sinks.writers", "write_files", "writers.write_files"),
    ("sling_cli_spark.sources.delta_py", "write_delta", "delta_py.write"),
    ("sling_cli_spark.sources.delta_py", "merge_delta", "delta_py.merge"),
    ("sling_cli_spark.sources.delta_py", "read_delta", "delta_py.read"),
    ("sling_cli_spark.sources.iceberg_py", "write_iceberg",
     "iceberg_py.write"),
    ("sling_cli_spark.sources.iceberg_py", "upsert_iceberg",
     "iceberg_py.upsert"),
    ("sling_cli_spark.sources.iceberg_py", "read_iceberg",
     "iceberg_py.read"),
    ("sling_cli_spark.streaming.cdc", "run_cdc_pipeline", "cdc.drain"),
]

# Layers that get Spark job metrics, self time and memory growth.
# ``runner`` submits no job of its own: its jobs belong to the layers it
# calls.
SPARK_LAYERS = ["files", "inference", "writers", "delta_py", "iceberg_py",
                "cdc", "lake_stream", "bench"]
SELF_LAYERS = ["files", "inference", "writers", "delta_py", "iceberg_py",
               "cdc", "lake_stream", "bench"]
RSS_LAYERS = ["runner", "delta_py", "iceberg_py", "cdc", "lake_stream"]
SPARK_FIELDS = [("jobs", "count"), ("stages", "count"), ("tasks", "count"),
                ("executor_run_s", "s"), ("executor_cpu_s", "s"),
                ("gc_s", "s"), ("shuffle_write_bytes", "bytes"),
                ("output_bytes", "bytes")]
# Fields kept only on the layers where they were ever above 0 in traced
# runs: jobs shuffle in merges and aggregating scans, write files in the
# writer layers, and the jobs of the other layers are too short to
# collect garbage.
FIELD_LAYERS = {
    "shuffle_write_bytes": {"delta_py", "iceberg_py", "cdc", "bench"},
    "output_bytes": {"writers", "delta_py", "iceberg_py"},
    "gc_s": {"files", "writers", "delta_py", "iceberg_py", "cdc", "bench"},
}


def _spark_fields(layer: str) -> list[tuple[str, str]]:
    return [(f, u) for f, u in SPARK_FIELDS
            if layer in FIELD_LAYERS.get(f, {layer})]

# name -> (unit, better)
NAMED = {
    "session.start_s": ("s", "lower"),
    "files.read_s": ("s", "lower"),
    "files.jobs": ("count", "lower"),
    "inference.s": ("s", "lower"),
    "inference.jobs": ("count", "lower"),
    "replication.self_s": ("s", "lower"),
    "runner.self_s": ("s", "lower"),
    "runner.jobs_per_task": ("count", "lower"),
    "writers.s": ("s", "lower"),
    "writers.files_out": ("count", "lower"),
    "writers.bytes_out": ("bytes", "lower"),
    "delta_py.write_s": ("s", "lower"),
    "delta_py.merge_s": ("s", "lower"),
    "delta_py.merge_jobs": ("count", "lower"),
    "delta_py.files_touched": ("count", "lower"),
    "delta_py.files_added": ("count", "lower"),
    "delta_py.dv_files": ("count", "lower"),
    "delta_py.rewrite_ratio": ("ratio", "lower"),
    "delta_py.read_plan_s": ("s", "lower"),
    "delta_py.scan_s": ("s", "lower"),
    "delta_py.log_bytes": ("bytes", "lower"),
    "iceberg_py.write_s": ("s", "lower"),
    "iceberg_py.upsert_s": ("s", "lower"),
    "iceberg_py.merge_jobs": ("count", "lower"),
    "iceberg_py.rewrite_ratio": ("ratio", "lower"),
    "iceberg_py.delete_files_live": ("count", "lower"),
    "iceberg_py.read_plan_s": ("s", "lower"),
    "iceberg_py.scan_s": ("s", "lower"),
    "iceberg_py.metadata_bytes": ("bytes", "lower"),
    "cdc.drain_s": ("s", "lower"),
    "cdc.batches": ("count", "lower"),
    "cdc.batch_p50_s": ("s", "lower"),
    "cdc.init_s": ("s", "lower"),
    "cdc.jobs_per_batch": ("count", "lower"),
    "lake_stream.drain_s": ("s", "lower"),
    "lake_stream.batches": ("count", "lower"),
    "lake_stream.add_batch_s": ("s", "lower"),
    "lake_stream.commit_s": ("s", "lower"),
    "lake_stream.rows_per_batch": ("count", "higher"),
}


def per_layer_spec() -> dict[str, tuple[str, str]]:
    """Every per-layer metric a traced run prints: name -> (unit, better)."""
    spec = dict(NAMED)
    for layer in SELF_LAYERS:
        spec[f"{layer}.self_s"] = ("s", "lower")
    for layer in RSS_LAYERS:
        spec[f"driver.rss_growth_mb.{layer}"] = ("MB", "lower")
    for layer in SPARK_LAYERS:
        for field, unit in _spark_fields(layer):
            spec[f"spark.{layer}.{field}"] = (unit, "lower")
    return spec


class Span:
    __slots__ = ("name", "start", "end", "parent", "depth", "info")

    def __init__(self, name, start, parent, depth):
        self.name = name
        self.start = start
        self.end = None
        self.parent = parent
        self.depth = depth
        self.info: dict = {}

    @property
    def layer(self) -> str:
        return self.name.split(".", 1)[0]

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    """Span recorder. ``context`` carries facts the workload knows and a
    wrapper cannot see (the source bytes of the batch being merged)."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self.context: dict = {}

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        sp = Span(name, time.time(), parent, len(self._stack))
        self.spans.append(sp)
        self._stack.append(len(self.spans) - 1)
        try:
            yield sp
        finally:
            sp.end = time.time()
            self._stack.pop()

    def install(self):
        """Wrap every function in ``WRAPPED``."""
        for modname, attr, name in WRAPPED:
            mod = importlib.import_module(modname)
            orig = getattr(mod, attr)
            wrapper = self._wrapper(orig, name)
            for m in list(sys.modules.values()):
                if getattr(m, "__name__", "").startswith("sling_cli_spark") \
                        and getattr(m, attr, None) is orig:
                    setattr(m, attr, wrapper)

    def _wrapper(self, orig, name):
        layer, op = name.split(".", 1)
        # write_*(df, path, ...), merge_*/upsert_*(spark, path, ...)
        table_arg = 1 if op in ("write", "merge", "upsert") else None

        @functools.wraps(orig)
        def wrapper(*args, **kw):
            with self.span(name) as sp:
                table = None
                if layer == "writers":
                    table = _target_dir(
                        args[1] if len(args) > 1 else kw.get("target"))
                elif table_arg is not None and len(args) > table_arg:
                    table = args[table_arg]
                before = oracle.file_sizes(table) if table else None
                if op in ("merge", "upsert"):
                    sp.info["batch_bytes"] = self.context.get(
                        "batch_bytes", 0)
                res = orig(*args, **kw)
                if before is not None:
                    after = oracle.file_sizes(table)
                    new = {p: s for p, s in after.items()
                           if before.get(p) != s and _is_data(p)}
                    sp.info["files_out"] = len(new)
                    sp.info["bytes_out"] = sum(new.values())
                if isinstance(res, dict):
                    sp.info["result"] = {k: v for k, v in res.items()
                                         if isinstance(v, (int, float))}
                if layer == "cdc" and res is not None:
                    sp.info["progress"] = query_progress(res)
                return res
        return wrapper

    def dump(self) -> list[dict]:
        return [{"name": s.name, "start": s.start, "end": s.end,
                 "parent": s.parent,
                 **{k: v for k, v in s.info.items() if k != "progress"}}
                for s in self.spans]


def _target_dir(target) -> str | None:
    obj = getattr(target, "object", None) or ""
    return obj if obj.startswith("/") else None


def _is_data(path: str) -> bool:
    return "/_delta_log/" not in path and "/metadata/" not in path \
        and not path.endswith(".crc")


def query_progress(query) -> list[dict]:
    """The progress records of a finished streaming query, as dicts."""
    return [json.loads(p.json) if hasattr(p, "json") else dict(p)
            for p in (query.recentProgress or [])]


def progress_summary(records: list[dict]) -> dict:
    """Batch count, per-batch durations (s) and rows from a query's
    progress records."""
    out = {"batches": 0, "trigger_s": [], "add_batch_s": 0.0,
           "commit_s": 0.0, "rows": 0}
    for p in records:
        d = p.get("durationMs") or {}
        if "addBatch" not in d:
            continue  # a trigger that found no new data ran no batch
        out["batches"] += 1
        out["trigger_s"].append(d.get("triggerExecution", 0) / 1000)
        out["add_batch_s"] += d.get("addBatch", 0) / 1000
        out["commit_s"] += (d.get("walCommit", 0)
                            + d.get("commitOffsets", 0)) / 1000
        out["rows"] += int(p.get("numInputRows") or 0)
    return out


# ------------------------------------------------------- Spark jobs


def _ts(s: str) -> float:
    return dt.datetime.strptime(
        s.replace("GMT", "+0000"), "%Y-%m-%dT%H:%M:%S.%f%z").timestamp()


def _get(url: str):
    with urllib.request.urlopen(url, timeout=30) as r:
        return json.loads(r.read())


def fetch_jobs(spark) -> list[dict]:
    """Every job of the application with its stages' summed metrics."""
    base = spark.sparkContext.uiWebUrl.rstrip("/") + "/api/v1/applications"
    app = spark.sparkContext.applicationId
    jobs = []
    for _ in range(40):  # wait until the listener has caught up
        jobs = _get(f"{base}/{app}/jobs")
        if all(j["status"] in ("SUCCEEDED", "FAILED") for j in jobs):
            break
        time.sleep(0.25)
    stages = _get(f"{base}/{app}/stages")
    by_id: dict[int, dict] = {}
    for s in stages:
        if s["status"] not in ("COMPLETE", "FAILED"):
            continue  # skipped stages did no work
        agg = by_id.setdefault(s["stageId"], {
            "stages": 0, "tasks": 0, "executor_run_s": 0.0,
            "executor_cpu_s": 0.0, "gc_s": 0.0,
            "shuffle_write_bytes": 0, "output_bytes": 0})
        agg["stages"] += 1
        agg["tasks"] += s.get("numCompleteTasks", 0) \
            + s.get("numFailedTasks", 0)
        agg["executor_run_s"] += s.get("executorRunTime", 0) / 1000
        agg["executor_cpu_s"] += s.get("executorCpuTime", 0) / 1e9
        agg["gc_s"] += s.get("jvmGcTime", 0) / 1000
        agg["shuffle_write_bytes"] += s.get("shuffleWriteBytes", 0)
        agg["output_bytes"] += s.get("outputBytes", 0)
    out = []
    for j in jobs:
        m = {"jobs": 1, "stages": 0, "tasks": 0, "executor_run_s": 0.0,
             "executor_cpu_s": 0.0, "gc_s": 0.0, "shuffle_write_bytes": 0,
             "output_bytes": 0}
        for sid in j.get("stageIds") or []:
            for k, v in (by_id.get(sid) or {}).items():
                m[k] += v
        m["submitted"] = _ts(j["submissionTime"])
        out.append(m)
    return out


def assign_jobs(spans: list[Span], jobs: list[dict]) -> list[int | None]:
    """Index of the innermost span open at each job's submission."""
    owners = []
    for j in jobs:
        t = j["submitted"]
        best = None
        for i, s in enumerate(spans):
            if s.start <= t <= s.end and (
                    best is None or s.depth > spans[best].depth):
                best = i
        owners.append(best)
    return owners


# ------------------------------------------------- per-layer metrics


PHASES = ("session.start", "bench.load", "bench.read")


def measured(spans: list[Span]) -> list[Span]:
    """The spans inside the measured phases (session start, load, read),
    re-indexed; warm-up and check spans drop out."""
    keep: dict[int, int] = {}
    out = []
    for i, s in enumerate(spans):
        if s.end is None:
            continue
        if s.parent is None and s.name not in PHASES:
            continue
        if s.parent is not None and s.parent not in keep:
            continue
        c = Span(s.name, s.start, keep.get(s.parent), s.depth)
        c.end, c.info = s.end, s.info
        keep[i] = len(out)
        out.append(c)
    return out


def _self_times(spans: list[Span]) -> list[float]:
    """Each span's duration minus its children's."""
    child: dict[int, float] = {}
    for s in spans:
        if s.parent is not None:
            child[s.parent] = child.get(s.parent, 0.0) + s.dur
    return [s.dur - child.get(i, 0.0) for i, s in enumerate(spans)]


def _under(spans: list[Span], i: int | None, names: set[str]) -> bool:
    while i is not None:
        if spans[i].name in names:
            return True
        i = spans[i].parent
    return False


def _outermost(spans: list[Span], name: str) -> list[Span]:
    """Spans named ``name`` with no ancestor of the same name."""
    out = []
    for s in spans:
        if s.name != name:
            continue
        p = s.parent
        while p is not None and spans[p].name != name:
            p = spans[p].parent
        if p is None:
            out.append(s)
    return out


def per_layer(tracer: Tracer, jobs: list[dict], rss,
              storage: dict) -> dict[str, float]:
    """Every metric of ``per_layer_spec`` from the spans, the jobs, the
    memory samples and the workload's end-of-run storage facts."""
    spans = measured(tracer.spans)
    owners = assign_jobs(spans, jobs)
    jobs = [j for j, o in zip(jobs, owners) if o is not None]
    owners = [o for o in owners if o is not None]
    self_s = _self_times(spans)

    def total(name):
        return sum(s.dur for s in _outermost(spans, name))

    def count(name):
        return len([s for s in spans if s.name == name])

    def jobs_under(*names):
        ns = set(names)
        return sum(1 for o in owners if _under(spans, o, ns))

    def info_sum(names, key, sub=None):
        v = 0.0
        for s in spans:
            if s.name in names:
                x = s.info.get(sub, {}) if sub else s.info
                v += x.get(key, 0) or 0
        return v

    def ratio(names):
        b = info_sum(names, "batch_bytes")
        return info_sum(names, "bytes_out") / b if b else 0.0

    m: dict[str, float] = {k: 0.0 for k in per_layer_spec()}
    m["session.start_s"] = total("session.start")
    m["files.read_s"] = total("files.read_source")
    m["files.jobs"] = jobs_under("files.read_source")
    m["inference.s"] = total("inference.infer_and_cast")
    m["inference.jobs"] = jobs_under("inference.infer_and_cast")
    m["replication.self_s"] = sum(
        self_s[i] for i, s in enumerate(spans)
        if s.name == "replication.run_replication")
    m["runner.self_s"] = sum(self_s[i] for i, s in enumerate(spans)
                             if s.name == "runner.run")
    tasks = count("runner.run")
    m["runner.jobs_per_task"] = jobs_under("runner.run") / tasks \
        if tasks else 0.0
    m["writers.s"] = total("writers.write_files")
    m["writers.files_out"] = info_sum({"writers.write_files"}, "files_out")
    m["writers.bytes_out"] = info_sum({"writers.write_files"}, "bytes_out")
    for fmt, merge in (("delta_py", "merge"), ("iceberg_py", "upsert")):
        m[f"{fmt}.write_s"] = total(f"{fmt}.write")
        m[f"{fmt}.{merge}_s"] = total(f"{fmt}.{merge}")
        m[f"{fmt}.merge_jobs"] = jobs_under(f"{fmt}.{merge}")
        m[f"{fmt}.rewrite_ratio"] = ratio({f"{fmt}.{merge}"})
        m[f"{fmt}.read_plan_s"] = total(f"{fmt}.read")
        m[f"{fmt}.scan_s"] = total(f"{fmt}.scan")
    m["delta_py.files_touched"] = info_sum({"delta_py.merge"}, "touched",
                                           "result")
    m["delta_py.files_added"] = info_sum({"delta_py.merge"}, "new_files",
                                         "result")
    m["delta_py.dv_files"] = info_sum({"delta_py.merge"}, "dv_files",
                                      "result")
    m["delta_py.log_bytes"] = storage.get("delta_log_bytes", 0)
    m["iceberg_py.metadata_bytes"] = storage.get("iceberg_metadata_bytes", 0)
    m["iceberg_py.delete_files_live"] = storage.get(
        "iceberg_delete_files_live", 0)

    for layer, name in (("cdc", "cdc.drain"),
                        ("lake_stream", "lake_stream.drain")):
        drains = [i for i, s in enumerate(spans) if s.name == name]
        recs = [r for i in drains for r in spans[i].info.get("progress", [])]
        ps = progress_summary(recs)
        drain_s = sum(spans[i].dur for i in drains)
        m[f"{layer}.drain_s"] = drain_s
        m[f"{layer}.batches"] = ps["batches"]
        if layer == "cdc":
            m["cdc.batch_p50_s"] = statistics.median(ps["trigger_s"]) \
                if ps["trigger_s"] else 0.0
            m["cdc.init_s"] = drain_s - sum(ps["trigger_s"])
            m["cdc.jobs_per_batch"] = jobs_under(name) / ps["batches"] \
                if ps["batches"] else 0.0
        else:
            m["lake_stream.add_batch_s"] = ps["add_batch_s"]
            m["lake_stream.commit_s"] = ps["commit_s"]
            m["lake_stream.rows_per_batch"] = ps["rows"] / ps["batches"] \
                if ps["batches"] else 0.0

    for i, s in enumerate(spans):
        if s.layer in SELF_LAYERS:
            m[f"{s.layer}.self_s"] += self_s[i]
    for layer in RSS_LAYERS:
        names = {s.name for s in spans if s.layer == layer}
        for s in spans:
            if s.layer != layer or _under(spans, s.parent, names):
                continue
            peak = rss.peak_between(s.start, s.end)
            start = rss.peak_between(s.start - 0.05, s.start)
            if peak is not None and start is not None:
                m[f"driver.rss_growth_mb.{layer}"] += max(0.0, peak - start)
    for j, o in zip(jobs, owners):
        layer = spans[o].layer
        if layer not in SPARK_LAYERS:
            layer = "bench"
        for field, _ in _spark_fields(layer):
            m[f"spark.{layer}.{field}"] += j[field]
    return m


def self_time_table(tracer: Tracer, jobs: list[dict]) -> str:
    """Per span name: calls, total, self time and attributed jobs."""
    spans = measured(tracer.spans)
    owners = assign_jobs(spans, jobs)
    self_s = _self_times(spans)
    rows: dict[str, list] = {}
    for i, s in enumerate(spans):
        r = rows.setdefault(s.name, [0, 0.0, 0.0, 0])
        r[0] += 1
        r[1] += s.dur
        r[2] += self_s[i]
    for o in owners:
        if o is not None:
            rows[spans[o].name][3] += 1
    lines = [f"{'span':32} {'calls':>6} {'total_s':>9} {'self_s':>9} "
             f"{'jobs':>6}"]
    for name, (n, tot, slf, nj) in sorted(rows.items(),
                                          key=lambda kv: -kv[1][2]):
        lines.append(f"{name:32} {n:6d} {tot:9.3f} {slf:9.3f} {nj:6d}")
    return "\n".join(lines)
