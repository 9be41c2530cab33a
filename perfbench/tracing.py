"""Benchmark-side tracing: spans around the package's public entry points.

Nothing here edits the package. In a traced run :meth:`Tracer.install`
replaces a fixed list of public functions and methods (module attributes
and ``MiniLakeTable`` methods) with wrappers that record a span. The
spans that start work (a replay, an ``apply_batch``, a benchmark read
or query) also label the Spark jobs launched inside them with
``sc.setJobDescription("bench:<workload>:<op>:<n>")``. The wrappers run
in the calling thread, so the worker threads of a pipelined replay label
their own jobs. :meth:`Tracer.uninstall` restores the originals.

Spans (name, start, end, parent, trace id) stay in memory and are
written once, by :func:`write_trace`, when the run ends. Spark's event
log, parsed by :func:`parse_event_log`, supplies job, stage and task
numbers; jobs are attributed to spans through their description.
"""

from __future__ import annotations

import functools
import itertools
import json
import os
import statistics
import threading
import time
from contextlib import contextmanager

LABEL_KEY = "spark.job.description"


class NullTracer:
    """The untraced run's stand-in: a span is a null context manager, so
    the workloads time every call the same way in both runs."""

    enabled = False

    @contextmanager
    def span(self, name: str, trace_id: str | None = None,
             label: str | None = None, **attrs):
        yield {"attrs": {}}


class Tracer:
    enabled = True

    def __init__(self, spark, workload: str):
        self.sc = spark.sparkContext
        self.workload = workload
        self.spans: list[dict] = []
        self.counters: dict[str, float] = {}
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()
        # parent for spans opened in threads with an empty stack (the
        # pipelined replay's apply_batch workers): the replay call span
        self._cross_parent: dict | None = None
        self._patches: list[tuple[object, str, object]] = []

    # ------------------------------------------------------------ spans

    def _stack(self) -> list[dict]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def count(self, name: str, value: float = 1.0) -> None:
        with self._lock:
            self.counters[name] = self.counters.get(name, 0.0) + value

    def enclosing(self, name: str) -> dict | None:
        """The innermost open span called ``name`` in this thread."""
        for sp in reversed(self._stack()):
            if sp["name"] == name:
                return sp
        return None

    @contextmanager
    def span(self, name: str, trace_id: str | None = None,
             label: str | None = None, **attrs):
        stack = self._stack()
        parent = stack[-1] if stack else self._cross_parent
        sp = {
            "id": next(self._ids),
            "name": name,
            "parent": parent["id"] if parent else None,
            "trace_id": trace_id or (parent["trace_id"] if parent else None),
            "thread": threading.get_ident(),
            "attrs": dict(attrs),
            "start": time.time(),
        }
        old_label = None
        if label is not None:
            old_label = self.sc.getLocalProperty(LABEL_KEY)
            self.sc.setJobDescription(f"bench:{self.workload}:{label}")
        stack.append(sp)
        try:
            yield sp
        finally:
            sp["end"] = time.time()
            stack.pop()
            if label is not None:
                self.sc.setLocalProperty(LABEL_KEY, old_label)
            with self._lock:
                self.spans.append(sp)

    @contextmanager
    def cross_thread_root(self, sp: dict):
        prev, self._cross_parent = self._cross_parent, sp
        try:
            yield
        finally:
            self._cross_parent = prev

    # ---------------------------------------------------------- wrapping

    def _patch(self, owner, attr: str, make) -> None:
        orig = getattr(owner, attr)
        self._patches.append((owner, attr, orig))
        setattr(owner, attr, functools.wraps(orig)(make(orig)))

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._patches):
            setattr(owner, attr, orig)
        self._patches.clear()

    def install(self) -> None:
        """Wrap the public entry points of each layer."""
        from etl_pipeline_spark import pipeline
        from etl_pipeline_spark.lake import lineage, minilake
        from etl_pipeline_spark.streaming import ingest

        tr = self
        table_cls = minilake.MiniLakeTable
        orig_manifest = table_cls.manifest

        def replay(orig):
            def w(spark, changelog_dir, table, *a, **kw):
                first = kw.get("start_batch") or 0
                with tr.span("ingest.replay_files", label=f"replay:{first}") as sp:
                    with tr.cross_thread_root(sp):
                        return orig(spark, changelog_dir, table, *a, **kw)
            return w

        def apply(orig):
            def w(table, batch_df, batch_id, *a, **kw):
                with tr.span(
                    "pipeline.apply_batch", trace_id=f"batch:{batch_id}",
                    label=f"apply:{batch_id}", batch_id=batch_id,
                ):
                    return orig(table, batch_df, batch_id, *a, **kw)
            return w

        def probe(orig):
            def w(*a, **kw):
                with tr.span("pipeline.skew_probe") as sp:
                    out = orig(*a, **kw)
                    sp["attrs"]["hot"] = bool(out)
                    return out
            return w

        def merge(orig):
            def w(self, *a, **kw):
                gate = kw.get("pre_commit")
                with tr.span("minilake.merge") as sp:
                    if gate is not None:
                        def timed_gate():
                            with tr.span("minilake.gate_wait"):
                                gate()
                            sp["attrs"]["gate_return"] = time.time()
                        kw["pre_commit"] = timed_gate
                    out = orig(self, *a, **kw)
                # longest delta chain any commit left behind (read with
                # the unwrapped manifest: not a client-visible read)
                chain = max(
                    (len(ds) for ds in orig_manifest(self)["buckets"].values()),
                    default=0,
                )
                with tr._lock:
                    tr.counters["minilake.max_delta_chain"] = max(
                        tr.counters.get("minilake.max_delta_chain", 0), chain
                    )
                return out
            return w

        def plain(name):
            def make(orig):
                def w(*a, **kw):
                    with tr.span(name):
                        return orig(*a, **kw)
                return w
            return make

        def maybe_compact(orig):
            def w(self, *a, **kw):
                with tr.span("minilake.maybe_compact") as sp:
                    out = orig(self, *a, **kw)
                    sp["attrs"]["folded"] = out is not None
                    return out
            return w

        def manifest(orig):
            def w(self, *a, **kw):
                t0 = time.perf_counter()
                m = orig(self, *a, **kw)
                tr.count("minilake.manifest_reads")
                tr.count("minilake.manifest_s", time.perf_counter() - t0)
                tr.count("minilake.manifest_bytes_read", len(json.dumps(m, indent=1)))
                ap = tr.enclosing("pipeline.apply_batch")
                if ap is not None:
                    ap["attrs"]["manifest_reads"] = ap["attrs"].get("manifest_reads", 0) + 1
                return m
            return w

        def resolved_read(name):
            def make(orig):
                def w(self, *a, **kw):
                    # count only the client's own reads, not the reads
                    # the engine makes inside an apply or a compaction
                    if not all(s["name"].startswith("bench.") for s in tr._stack()):
                        return orig(self, *a, **kw)
                    resolved = minilake.snapshot_is_resolved(orig_manifest(self))
                    tr.count("minilake.reads")
                    tr.count("minilake.reads_fold_skipped", float(resolved))
                    with tr.span(name, resolved=resolved):
                        return orig(self, *a, **kw)
                return w
            return make

        self._patch(ingest, "replay_files", replay)
        self._patch(ingest, "apply_batch", apply)
        self._patch(pipeline, "apply_batch", apply)
        self._patch(pipeline, "detect_hot_keys", probe)
        self._patch(table_cls, "merge", merge)
        self._patch(table_cls, "compact", plain("minilake.compact"))
        self._patch(table_cls, "maybe_compact", maybe_compact)
        self._patch(table_cls, "add_columns", plain("minilake.add_columns"))
        self._patch(table_cls, "manifest", manifest)
        self._patch(table_cls, "read_for_keys", resolved_read("minilake.read_for_keys"))
        self._patch(table_cls, "read", resolved_read("minilake.read"))
        self._patch(table_cls, "read_changes_since", plain("minilake.read_changes_since"))
        self._patch(lineage.LineageLog, "append", plain("lineage.append"))


# ------------------------------------------------------------ span math


def union_ms(intervals: list[tuple[float, float]]) -> float:
    """Length in ms of the union of [start, end] intervals (seconds)."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total * 1000.0


def self_times(spans: list[dict]) -> dict[int, float]:
    """Per span: duration minus the part of it its children cover (ms)."""
    kids: dict[int, list[tuple[float, float]]] = {}
    for sp in spans:
        if sp["parent"] is not None:
            kids.setdefault(sp["parent"], []).append((sp["start"], sp["end"]))
    out = {}
    for sp in spans:
        clipped = [
            (max(s, sp["start"]), min(e, sp["end"]))
            for s, e in kids.get(sp["id"], [])
            if e > sp["start"] and s < sp["end"]
        ]
        out[sp["id"]] = (sp["end"] - sp["start"]) * 1000.0 - union_ms(clipped)
    return out


def subtree(spans: list[dict], root_id: int) -> list[dict]:
    kids: dict[int, list[dict]] = {}
    for sp in spans:
        kids.setdefault(sp["parent"], []).append(sp)
    out, todo = [], [root_id]
    while todo:
        for sp in kids.get(todo.pop(), []):
            out.append(sp)
            todo.append(sp["id"])
    return out


# ------------------------------------------------------------ event log


def _events(paths: list[str]):
    for path in paths:
        with open(path) as f:
            for line in f:
                yield json.loads(line)


def parse_event_log(paths: list[str]) -> dict:
    """Jobs (with description, time span, stages), tasks per stage, and
    the rows out of Arrow-eval (pandas UDF) nodes, from the files of one
    uncompressed Spark event log, in order."""
    jobs: dict[int, dict] = {}
    tasks: dict[int, list[dict]] = {}
    arrow_acc: set[int] = set()
    arrow_rows: dict[int, float] = {}  # stage id -> Arrow-eval output rows

    def scan_plan(node: dict) -> None:
        if node.get("nodeName", "").startswith("ArrowEvalPython"):
            for m in node.get("metrics", []):
                if m.get("name") == "number of output rows":
                    arrow_acc.add(int(m["accumulatorId"]))
        for ch in node.get("children", []):
            scan_plan(ch)

    for ev in _events(paths):
        kind = ev.get("Event", "")
        if kind == "SparkListenerJobStart":
            jid = ev["Job ID"]
            jobs[jid] = {
                "id": jid,
                "desc": (ev.get("Properties") or {}).get(LABEL_KEY) or "",
                "start": ev["Submission Time"] / 1000.0,
                "end": None,
                "stages": [s["Stage ID"] for s in ev.get("Stage Infos", [])],
            }
        elif kind == "SparkListenerJobEnd":
            if ev["Job ID"] in jobs:
                jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1000.0
        elif kind == "SparkListenerTaskEnd":
            info = ev.get("Task Info", {})
            tm = ev.get("Task Metrics") or {}
            sw = tm.get("Shuffle Write Metrics") or {}
            sr = tm.get("Shuffle Read Metrics") or {}
            tasks.setdefault(ev["Stage ID"], []).append({
                "ms": info.get("Finish Time", 0) - info.get("Launch Time", 0),
                "run_ms": tm.get("Executor Run Time", 0),
                "shuffle_write": sw.get("Shuffle Bytes Written", 0),
                "shuffle_read": sr.get("Remote Bytes Read", 0)
                + sr.get("Local Bytes Read", 0),
                "spill": tm.get("Memory Bytes Spilled", 0)
                + tm.get("Disk Bytes Spilled", 0),
            })
            for acc in info.get("Accumulables", []):
                if int(acc["ID"]) in arrow_acc:
                    st = ev["Stage ID"]
                    arrow_rows[st] = arrow_rows.get(st, 0.0) + float(acc["Update"])
        elif kind.endswith(("SQLExecutionStart", "SQLAdaptiveExecutionUpdate")):
            scan_plan(ev.get("sparkPlanInfo") or {})
    for j in jobs.values():
        if j["end"] is None:
            j["end"] = j["start"]
    return {
        "jobs": jobs,
        "tasks": tasks,
        "arrow_rows": arrow_rows,
    }


def find_event_log(log_dir: str) -> list[str]:
    """The files of the one application log under ``log_dir``: a plain
    file, or the parts of a rolling ``eventlog_v2_*`` directory."""
    (name,) = [n for n in os.listdir(log_dir) if not n.startswith(".")]
    path = os.path.join(log_dir, name)
    if not os.path.isdir(path):
        return [path]
    parts = [n for n in os.listdir(path) if n.startswith("events_")]
    parts.sort(key=lambda n: int(n.split("_")[1]))
    return [os.path.join(path, n) for n in parts]


# ---------------------------------------------------- per-layer metrics


def _p50(xs: list[float]) -> float | None:
    return statistics.median(xs) if xs else None


def _ratio(num: float, den: float) -> float | None:
    return num / den if den else None


def layer_metrics(tracer: Tracer, ev: dict, *, cores: int, wall_s: float,
                  events_applied: int, lineage_records: list[dict],
                  extra: dict) -> tuple[dict, dict]:
    """Per-layer metrics (name → value) and the attribution report that
    reconciles each ``apply_batch`` wall with its layers' self times.

    A metric whose source is absent (no span of its kind, no labelled
    job, no task) is left out rather than reported as 0, so the caller
    can tell a broken wrapper or event-log parse from a measured zero."""
    spans = tracer.spans
    by_name: dict[str, list[dict]] = {}
    for sp in spans:
        by_name.setdefault(sp["name"], []).append(sp)
    dur = lambda sp: (sp["end"] - sp["start"]) * 1000.0  # noqa: E731
    total = lambda name: (  # noqa: E731
        sum(dur(s) for s in by_name[name]) if name in by_name else None
    )
    selfs = self_times(spans)
    jobs = ev["jobs"]
    prefix = f"bench:{tracer.workload}:"

    def jobs_with(label: str) -> list[dict]:
        return [j for j in jobs.values() if j["desc"] == prefix + label]

    def apply_jobs_of(a: dict) -> list[dict]:
        """The jobs an apply_batch span launched (batch ids repeat across
        bulk iterations, so the label alone is not enough)."""
        return [
            j for j in jobs_with(f"apply:{a['attrs']['batch_id']}")
            if a["start"] - 0.05 <= j["start"] <= a["end"] + 0.05
        ]

    applies = by_name.get("pipeline.apply_batch", [])
    replays = by_name.get("ingest.replay_files", [])
    merges = by_name.get("minilake.merge", [])
    n_batches = len(applies)
    m: dict[str, float | None] = {}

    # ingest: replay wall not covered by applies or drain compactions
    gaps = []
    for r in replays:
        inner = [
            (s["start"], s["end"]) for s in subtree(spans, r["id"])
            if s["name"] == "pipeline.apply_batch"
            or (s["name"] == "minilake.maybe_compact"
                and s["parent"] == r["id"])
        ]
        gaps.append(dur(r) - union_ms(inner))
    m["ingest.driver_gap_ms"] = sum(gaps) if gaps else None
    m["ingest.batches"] = n_batches or None

    # pipeline
    apply_ms = [dur(a) for a in applies]
    m["pipeline.apply_ms_p50"] = _p50(apply_ms)
    m["pipeline.apply_ms_sum"] = sum(apply_ms) if apply_ms else None
    driver_ms, jobs_per = [], []
    for a in applies:
        js = apply_jobs_of(a)
        jobs_per.append(len(js))
        driver_ms.append(dur(a) - union_ms([(j["start"], j["end"]) for j in js]))
    labelled = sum(jobs_per) > 0  # else the job labels did not reach the log
    m["pipeline.apply_driver_ms"] = _p50(driver_ms) if labelled else None
    m["pipeline.spark_jobs_per_batch"] = (
        sum(jobs_per) / n_batches if labelled else None
    )
    probes = by_name.get("pipeline.skew_probe", [])
    m["pipeline.skew_probe_calls"] = len(probes) or None
    m["pipeline.skew_probe_ms"] = total("pipeline.skew_probe")
    applied = [r for r in lineage_records if not r.get("skipped_fenced")]
    if applied:
        m["pipeline.salted_batches"] = sum(
            bool(r.get("salted_reduce")) for r in applied
        )
        m["pipeline.dead_lettered"] = sum(
            int(r.get("dead_lettered") or 0) for r in applied
        )

    # event-log numbers count only the jobs this workload's spans labelled
    # (the set-up before the loop runs unlabelled)
    bench_jobs = [j for j in jobs.values() if j["desc"].startswith(prefix)]
    bench_stages = {s for j in bench_jobs for s in j["stages"]}

    # cleaning
    m["cleaning.kernel_rows_per_s"] = extra.get("cleaning_kernel_rows_per_s")
    m["cleaning.python_rows"] = sum(
        v for s, v in ev["arrow_rows"].items() if s in bench_stages
    ) or None

    # minilake: merge, gate, commit tail
    m["minilake.merge_ms"] = _p50([dur(s) for s in merges])
    m["minilake.gate_wait_ms"] = total("minilake.gate_wait")
    commit_ms = []
    for s in merges:
        js = [j["end"] for a in applies
              if a["start"] <= s["start"] and s["end"] <= a["end"]
              for j in apply_jobs_of(a)
              if s["start"] <= j["end"] <= s["end"]]
        after = max([s["attrs"].get("gate_return", s["start"])] + js)
        commit_ms.append((s["end"] - after) * 1000.0)
    m["minilake.commit_ms"] = _p50(commit_ms)
    reads = tracer.counters.get("minilake.manifest_reads", 0.0)
    per_batch = [a["attrs"].get("manifest_reads", 0) for a in applies]
    m["minilake.manifest_reads_per_batch"] = _ratio(sum(per_batch), n_batches)
    m["minilake.manifest_ms"] = (
        tracer.counters["minilake.manifest_s"] * 1000.0 if reads else None
    )
    m["minilake.manifest_bytes"] = _ratio(
        tracer.counters.get("minilake.manifest_bytes_read", 0.0), reads
    )
    m["minilake.maybe_compact_ms"] = total("minilake.maybe_compact")
    m["minilake.folds"] = len(by_name.get("minilake.compact", [])) or None
    m["minilake.final_compact_ms"] = total("bench.final_compact")
    m["minilake.max_delta_chain"] = tracer.counters.get("minilake.max_delta_chain")
    m["minilake.files_total"] = extra.get("files_total")
    m["minilake.bytes_written_per_event"] = _ratio(
        extra.get("bytes_written", 0), events_applied
    )
    m["minilake.read_fold_skipped_ratio"] = _ratio(
        tracer.counters.get("minilake.reads_fold_skipped", 0.0),
        tracer.counters.get("minilake.reads", 0.0),
    )
    lookups = by_name.get("bench.point_read", [])
    lookup_jobs = sum(
        len(jobs_with(f"point_read:{s['attrs']['round']}")) for s in lookups
    )
    m["minilake.point_read_jobs"] = _ratio(lookup_jobs, len(lookups)) or None
    m["minilake.files_scanned_per_lookup"] = extra.get("files_per_lookup")

    # lineage
    m["lineage.append_ms"] = _p50([dur(s) for s in by_name.get("lineage.append", [])])

    # spark: job, stage and task numbers from the event log
    apply_jobs = [j for j in jobs.values()
                  if j["desc"].startswith(prefix + "apply:")]
    apply_stages = [s for j in apply_jobs for s in j["stages"]]
    apply_tasks = [t for s in apply_stages for t in ev["tasks"].get(s, [])]
    all_tasks = [t for s in bench_stages for t in ev["tasks"].get(s, [])]
    if apply_tasks:
        m["spark.shuffle_write_bytes_per_event"] = _ratio(
            sum(t["shuffle_write"] for t in apply_tasks), events_applied
        )
        m["spark.spill_bytes"] = sum(t["spill"] for t in all_tasks)
    skews = []
    for s in apply_stages:
        ts = ev["tasks"].get(s, [])
        if ts and any(t["shuffle_read"] > 0 for t in ts):
            med = statistics.median(t["ms"] for t in ts)
            skews.append(max(t["ms"] for t in ts) / med if med > 0 else 1.0)
    m["spark.merge_task_skew"] = _p50(skews)
    m["spark.executor_busy_share"] = _ratio(
        sum(t["run_ms"] for t in all_tasks), wall_s * 1000.0 * cores
    ) or None

    # queries: the split per query, plus two totals
    qs = by_name.get("bench.query", [])
    for q in qs:
        name = q["attrs"]["query"]
        m[f"queries.{name}.build_ms"] = q["attrs"]["build_ms"]
        m[f"queries.{name}.plan_ms"] = q["attrs"]["plan_ms"]
        m[f"queries.{name}.exec_ms"] = q["attrs"]["exec_ms"]
        m[f"queries.{name}.spark_jobs"] = len(jobs_with(f"query:{name}")) or None
    if qs:
        m["queries.spark_jobs"] = sum(
            1 for j in jobs.values() if j["desc"].startswith(prefix + "query:")
        ) or None
        plan = sum(q["attrs"]["plan_ms"] for q in qs)
        execute = sum(q["attrs"]["exec_ms"] for q in qs)
        m["queries.plan_share"] = _ratio(plan, plan + execute)
    m = {k: v for k, v in m.items() if v is not None}

    # attribution: each apply_batch wall vs the self times of its subtree
    per_layer_self: dict[str, float] = {}
    apply_wall = 0.0
    for a in applies:
        apply_wall += dur(a)
        for sp in [a] + subtree(spans, a["id"]):
            layer = sp["name"].split(".")[0]
            per_layer_self[layer] = per_layer_self.get(layer, 0.0) + selfs[sp["id"]]
    accounted = sum(per_layer_self.values())
    attribution = {
        "apply_batch_wall_ms": apply_wall,
        "self_ms_by_layer": per_layer_self,
        "accounted_ms": accounted,
        "residual_ms": apply_wall - accounted,
        "spark_job_busy_ms_in_applies": sum(
            union_ms([(j["start"], j["end"]) for j in apply_jobs_of(a)])
            for a in applies
        ),
    }
    return m, attribution


def write_trace(path: str, tracer: Tracer, payload: dict) -> None:
    """Write every span plus the run's derived numbers, once, at the end."""
    selfs = self_times(tracer.spans)
    spans = [
        {
            "span_id": sp["id"],
            "name": sp["name"],
            "parent": sp["parent"],
            "trace_id": sp["trace_id"],
            "start": sp["start"],
            "end": sp["end"],
            "self_ms": round(selfs[sp["id"]], 3),
            "attrs": sp["attrs"],
        }
        for sp in sorted(tracer.spans, key=lambda s: s["start"])
    ]
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as f:
        json.dump({**payload, "spans": spans}, f, indent=1, default=str)
