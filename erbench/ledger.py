"""Per-layer ledger for a traced benchmark run, built from outside the program.

`Tracer.install()` wraps the calls that `run_pipeline` and the incremental ER
stream make into each module.  Every wrapper records a span and sets the
Spark job group to its layer (restoring the caller's group on exit), so each
job in the Spark event log carries the layer it ran under.  `fold()` then
reads the uncompressed event log and sums task metrics per layer.

Attribution rules:

* A job belongs to the job group it was submitted under.  A job submitted
  outside every wrapper (such as `run_pipeline`'s inline `surfaces.count()`)
  goes to the layer of the next job that has one; jobs after the last
  layered job are reported as `unattributed`.
* Writing a stage table computes the DataFrame it was handed, so
  `CheckpointStore.materialize` runs its jobs under the layer that produced
  that DataFrame, until it re-reads the table (`CheckpointStore.load`); the
  re-read and re-count belong to `checkpoint`.
* Python-worker metrics (`py_*`) are per plan operator: an operator is
  charged to the layer whose wrapper first returned a DataFrame containing
  it (`extract_mentions` for the extract kernel), whichever job ran it, and
  otherwise to the job's layer.
"""

from __future__ import annotations

import functools
import glob
import json
import os
import re
import time
from collections import Counter, defaultdict

LAYERS = (
    "properties",
    "extract",
    "blocking",
    "scoring",
    "clustering",
    "checkpoint",
    "ingest",
)
# (module, attribute, layer): the names run_pipeline and the stream call
_PIPELINE = "berkeley_entity_spark.plans.pipeline"
TARGETS = (
    (_PIPELINE, "extract_mentions", "extract"),
    ("berkeley_entity_spark.operators.properties", "with_number_gender", "properties"),
    (_PIPELINE, "distinct_surfaces", "blocking"),
    (_PIPELINE, "candidate_pairs", "blocking"),
    (_PIPELINE, "idf_table", "scoring"),
    (_PIPELINE, "collect_idf", "scoring"),
    (_PIPELINE, "load_default_weights", "scoring"),
    (_PIPELINE, "score_pairs", "scoring"),
    (_PIPELINE, "match_edges", "scoring"),
    (_PIPELINE, "connected_components", "clustering"),
    ("berkeley_entity_spark.operators.clustering", "connected_components", "clustering"),
    (_PIPELINE, "assign_clusters", "clustering"),
    ("berkeley_entity_spark.streaming.ingest", "_dedup_batch", "ingest"),
    ("berkeley_entity_spark.streaming.ingest", "_er_merge_batch", "ingest"),
)
_STORE = ("berkeley_entity_spark.plans.checkpoint", "CheckpointStore")
# `name(args)#resultId`: how a Python UDF prints in logical and physical plans
_UDF_ID = re.compile(r"\w+\([^()]*\)#(\d+)")
_PY_METRICS = {
    "time to start Python workers": ("py_start_s", 1e-3),
    "time to initialize Python workers": ("py_init_s", 1e-3),
    "time to run Python workers": ("py_run_s", 1e-3),
    "data sent to Python workers": ("py_sent_mb", 1e-6),
    "data returned from Python workers": ("py_returned_mb", 1e-6),
}
KINDS = (
    "wall_s", "jobs", "stages", "tasks", "task_s", "cpu_s", "gc_s",
    "shuffle_write_mb", "shuffle_read_mb", "spill_mb", "py_start_s",
    "py_init_s", "py_run_s", "py_sent_mb", "py_returned_mb", "rows_out",
)


class _Frame:
    def __init__(self, layer: str, name: str, table: str | None = None):
        self.layer = layer
        self.name = name
        self.table = table
        self.span: int | None = None


class Tracer:
    """Spans, job groups and UDF ownership for one traced run."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[dict] = []  # layer, name, start, end, parent
        self.stack: list[_Frame] = []
        self.udf_layer: dict[str, str] = {}
        # id(df) -> (df, layer); holding df keeps its id from being reused
        self.producer: dict[int, tuple[object, str]] = {}
        self.rows_out: Counter = Counter()
        self._saved: list[tuple[object, str, object]] = []
        self._outer: tuple[str | None, str | None] = (None, None)

    # -- spans and job groups ------------------------------------------------
    def _set_group(self, group: str | None, description: str | None = None) -> None:
        self.sc.setLocalProperty("spark.jobGroup.id", group)
        self.sc.setLocalProperty("spark.job.description", description or group)

    def _open(self, frame: _Frame) -> None:
        parent = self.stack[-1].span if self.stack else None
        self.spans.append(
            {"layer": frame.layer, "name": frame.name, "start": time.monotonic(),
             "end": None, "parent": parent}
        )
        frame.span = len(self.spans) - 1
        self._set_group(frame.layer)

    def _close(self, frame: _Frame) -> None:
        self.spans[frame.span]["end"] = time.monotonic()

    def _enter(self, frame: _Frame) -> None:
        if not self.stack:
            # the caller's own group (a streaming query sets one) comes back
            # when the outermost wrapper returns
            self._outer = (
                self.sc.getLocalProperty("spark.jobGroup.id"),
                self.sc.getLocalProperty("spark.job.description"),
            )
        self._open(frame)
        self.stack.append(frame)

    def _exit(self, frame: _Frame) -> None:
        self._close(frame)
        self.stack.pop()
        if self.stack:
            self._set_group(self.stack[-1].layer)
        else:
            self._set_group(*self._outer)

    def _claim(self, df, layer: str) -> None:
        """Record `layer` as the producer of `df` and owner of its new UDFs."""
        jdf = getattr(df, "_jdf", None)
        if jdf is None:
            return
        self.producer[id(df)] = (df, layer)
        plan = jdf.queryExecution().analyzed().toString()
        for uid in _UDF_ID.findall(plan):
            self.udf_layer.setdefault(uid, layer)

    def _wrap(self, fn, layer: str, name: str):
        tracer = self

        @functools.wraps(fn)
        def wrapped(*args, **kwargs):
            frame = _Frame(layer, name)
            tracer._enter(frame)
            try:
                out = fn(*args, **kwargs)
                tracer._claim(out, layer)
                return out
            finally:
                tracer._exit(frame)

        return wrapped

    def _wrap_materialize(self, fn):
        tracer = self

        @functools.wraps(fn)
        def materialize(store, df, name, *args, **kwargs):
            layer = tracer.producer.get(id(df), (None, "checkpoint"))[1]
            frame = _Frame(layer, f"materialize:{name}", name)
            tracer._enter(frame)
            try:
                return fn(store, df, name, *args, **kwargs)
            finally:
                tracer._exit(frame)
                marker = store._done_marker(name)
                if os.path.exists(marker):
                    with open(marker) as f:
                        rows = json.load(f)["rows"]
                    tracer.rows_out[layer] += rows
                    tracer.rows_out["checkpoint"] += rows

        return materialize

    def _wrap_load(self, fn):
        tracer = self

        @functools.wraps(fn)
        def load(store, spark, name):
            frame = _Frame("checkpoint", f"load:{name}")
            tracer._enter(frame)
            try:
                return fn(store, spark, name)
            finally:
                tracer._exit(frame)
                outer = tracer.stack[-1] if tracer.stack else None
                if outer is not None and outer.table == name and outer.layer != "checkpoint":
                    # the stage table is written: the rest of materialize
                    # (re-read, re-count) is checkpoint work
                    tracer._close(outer)
                    tracer.stack.pop()
                    outer.layer = "checkpoint"
                    outer.name += ":reread"
                    tracer._open(outer)
                    tracer.stack.append(outer)

        return load

    def install(self) -> None:
        import importlib

        for mod_name, attr, layer in TARGETS:
            mod = importlib.import_module(mod_name)
            fn = getattr(mod, attr)
            self._saved.append((mod, attr, fn))
            setattr(mod, attr, self._wrap(fn, layer, attr))
        cls = getattr(importlib.import_module(_STORE[0]), _STORE[1])
        for attr, wrap in (("materialize", self._wrap_materialize), ("load", self._wrap_load)):
            fn = cls.__dict__[attr]
            self._saved.append((cls, attr, fn))
            setattr(cls, attr, wrap(fn))

    def uninstall(self) -> None:
        while self._saved:
            obj, attr, fn = self._saved.pop()
            setattr(obj, attr, fn)
        self.producer.clear()

    def self_wall(self) -> dict[str, float]:
        """Per-layer span time minus the time of nested spans."""
        out: dict[str, float] = defaultdict(float)
        for s in self.spans:
            if s["end"] is not None:
                out[s["layer"]] += s["end"] - s["start"]
        for s in self.spans:
            if s["end"] is not None and s["parent"] is not None:
                out[self.spans[s["parent"]]["layer"]] -= s["end"] - s["start"]
        return dict(out)


# -- event-log fold ------------------------------------------------------------
def _walk(node, acc_info: dict, inputs: set, owner: str | None = None):
    metrics = {m["name"]: m["accumulatorId"] for m in node.get("metrics", [])}
    uid = None
    if any(name in metrics for name in _PY_METRICS):
        ids = _UDF_ID.findall(node.get("simpleString", ""))
        uid = ids[0] if ids else None
        for name, acc in metrics.items():
            if name in _PY_METRICS:
                acc_info[acc] = (uid, _PY_METRICS[name])
    if owner is not None and "number of output rows" in metrics:
        # first row-counting operator below a Python node: its input rows
        inputs.add((owner, metrics["number of output rows"]))
        owner = None
    for child in node.get("children", []):
        _walk(child, acc_info, inputs, uid if uid is not None else owner)


def _read_events(log_dir: str):
    for path in sorted(glob.glob(os.path.join(log_dir, "**", "*"), recursive=True)):
        base = os.path.basename(path)
        if os.path.isfile(path) and not base.startswith(".") and "appstatus" not in base:
            with open(path) as f:
                for line in f:
                    yield json.loads(line)


def fold(log_dir: str, tracer: Tracer, t0_ms: float, t1_ms: float) -> dict:
    """Per-layer rows from the event log, for jobs submitted in [t0, t1]."""
    job_group: dict[int, str | None] = {}
    job_stages: dict[int, list[int]] = {}
    stage_job: dict[int, int] = {}
    tasks: list[dict] = []
    acc_info: dict[int, tuple] = {}
    inputs: set = set()
    for e in _read_events(log_dir):
        kind = e["Event"]
        if kind == "SparkListenerJobStart":
            if t0_ms <= e["Submission Time"] <= t1_ms:
                jid = e["Job ID"]
                job_group[jid] = (e.get("Properties") or {}).get("spark.jobGroup.id")
                job_stages[jid] = e["Stage IDs"]
        elif kind == "SparkListenerStageSubmitted":
            sid = e["Stage Info"]["Stage ID"]
            for jid in sorted(job_stages, reverse=True):
                if sid in job_stages[jid]:
                    stage_job.setdefault(sid, jid)
                    break
        elif kind == "SparkListenerTaskEnd":
            tasks.append(e)
        elif "sparkPlanInfo" in e:
            _walk(e["sparkPlanInfo"], acc_info, inputs)
    # jobs outside every wrapper go to the following layer
    job_layer: dict[int, str] = {}
    pending: list[int] = []
    for jid in sorted(job_group):
        g = job_group[jid]
        if g in LAYERS:
            for p in pending:
                job_layer[p] = g
            pending = []
            job_layer[jid] = g
        else:
            pending.append(jid)
    for p in pending:
        job_layer[p] = "unattributed"

    rows: dict[str, Counter] = defaultdict(Counter)
    for jid, layer in job_layer.items():
        rows[layer]["jobs"] += 1
    for sid, jid in stage_job.items():
        rows[job_layer[jid]]["stages"] += 1
    input_accs = {acc: owner for owner, acc in inputs}
    extract_input_rows = 0
    for e in tasks:
        jid = stage_job.get(e["Stage ID"])
        if jid is None:
            continue
        layer = job_layer[jid]
        m = e.get("Task Metrics") or {}
        r = rows[layer]
        r["tasks"] += 1
        r["task_s"] += m.get("Executor Run Time", 0) / 1e3
        r["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
        r["gc_s"] += m.get("JVM GC Time", 0) / 1e3
        sw = (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
        sr = m.get("Shuffle Read Metrics") or {}
        r["shuffle_write_mb"] += sw / 1e6
        r["shuffle_read_mb"] += (sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)) / 1e6
        r["spill_mb"] += m.get("Disk Bytes Spilled", 0) / 1e6
        for a in (e.get("Task Info") or {}).get("Accumulables", []):
            acc = a.get("ID")
            if acc in acc_info:
                uid, (kind, scale) = acc_info[acc]
                owner = tracer.udf_layer.get(uid, layer)
                rows[owner][kind] += float(a.get("Update") or 0) * scale
            elif tracer.udf_layer.get(input_accs.get(acc)) == "extract":
                extract_input_rows += int(a.get("Update") or 0)
    for layer, wall in tracer.self_wall().items():
        rows[layer]["wall_s"] += wall
    for layer, n in tracer.rows_out.items():
        rows[layer]["rows_out"] += n
    total = sum(r["task_s"] for r in rows.values())
    attributed = sum(r["task_s"] for name, r in rows.items() if name in LAYERS)
    return {
        "layers": {name: dict(r) for name, r in rows.items()},
        "task_s_total": total,
        "task_s_attributed": attributed,
        "extract_input_rows": extract_input_rows,
    }
