"""Outside-in span tracing for the benchmark's traced run (``--trace 1``).

Spans are recorded around calls INTO each layer's public functions, from
this file only — the program itself is not edited. Each span keeps its
layer name, start, end, parent span and a tag (the table path for table
calls), in memory; they are summarised once when the run ends.

Binding gotcha: ``streaming/cdc.py`` does ``from ...merge import
merge_batch`` and ``from ...sources.changes import feed_schema_drift,
infer_feed_schema``, so those names are patched in the modules that USE
them (``streaming.cdc``, ``operators.corpus_view``), not where they are
defined. Methods (``LakeTable``, ``CdcPipeline``, ``LineageLog``,
``RenderedCorpusView``) are patched on the class. ``compact`` is imported
inside the functions that call it, so patching its module attribute works.

Shuffle/spill/task counts of a merge come from Spark's event log: every
wrapped merge runs under its own job group (``perfbench-merge-<span>``),
and :func:`read_event_log` attributes tasks to spans by that group.
"""

from __future__ import annotations

import glob
import itertools
import json
import os
import statistics
import threading
import time
from dataclasses import dataclass, field

PER_LAYER = [
    ("cdc.batch_s", "s"),
    ("cdc.trigger_gap_s", "s"),
    ("cdc.batches_applied", "count"),
    ("cdc.batches_fenced", "count"),
    ("merge.self_s", "s"),
    ("merge.rows_in", "count"),
    ("merge.rows_applied", "count"),
    ("merge.keep_ratio", "ratio"),
    ("merge.touched_buckets", "count"),
    ("merge.shuffle_bytes", "bytes"),
    ("merge.spill_bytes", "bytes"),
    ("merge.task_skew", "ratio"),
    ("merge.tasks", "count"),
    ("table.write_s", "s"),
    ("table.commit_s", "s"),
    ("table.snapshot_s", "s"),
    ("table.read_s", "s"),
    ("table.files_written", "count"),
    ("table.live_files", "count"),
    ("compact.runs", "count"),
    ("compact.busy_s", "s"),
    ("compact.busy_share", "ratio"),
    ("compact.files_folded", "count"),
    ("sources.drift_check_s", "s"),
    ("sources.infer_schema_s", "s"),
    ("sources.files_per_batch", "count"),
    ("sources.lag_files", "count"),
    ("lineage.append_s", "s"),
    ("bootstrap.s", "s"),
    ("bootstrap.rows", "count"),
    ("view.catch_up_s", "s"),
    ("view.compact_s", "s"),
    ("view.read_s", "s"),
    ("trace.spans", "count"),
    ("trace.bookkeeping_s", "s"),
]


@dataclass
class Span:
    sid: int
    layer: str
    start: float
    parent: int | None
    tag: str = ""
    end: float = 0.0
    attrs: dict = field(default_factory=dict)


class Tracer:
    """Span store plus the patches that feed it. ``install`` patches,
    ``uninstall`` restores the originals."""

    def __init__(self, spark, feed_rows: dict[str, int], feed_dir: str):
        self.spark = spark
        self.feed_rows = feed_rows  # change-file path -> event count
        self.feed_dir = feed_dir
        self.spans: list[Span] = []
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()
        self._patched: list[tuple[object, str, object]] = []
        self.bookkeeping_s = 0.0
        self.files_seen = 0

    # -- span recording -------------------------------------------------

    def _stack(self) -> list[int]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def wrap(self, layer: str, fn, tag_of=None, after=None, job_group: bool = False):
        tracer = self

        def wrapper(*args, **kwargs):
            b0 = time.perf_counter()
            stack = tracer._stack()
            span = Span(next(tracer._ids), layer, 0.0, stack[-1] if stack else None)
            if tag_of is not None:
                span.tag = tag_of(*args, **kwargs)
            prev_group = None
            if job_group:
                sc = tracer.spark.sparkContext
                prev_group = sc.getLocalProperty("spark.jobGroup.id")
                sc.setJobGroup(f"perfbench-merge-{span.sid}", layer)
            stack.append(span.sid)
            b1 = time.perf_counter()
            span.start = b1
            try:
                out = fn(*args, **kwargs)
            finally:
                span.end = time.perf_counter()
                stack.pop()
                if job_group:
                    tracer.spark.sparkContext.setLocalProperty(
                        "spark.jobGroup.id", prev_group
                    )
                with tracer._lock:
                    tracer.spans.append(span)
            if after is not None:
                after(span, out, *args, **kwargs)
            with tracer._lock:
                tracer.bookkeeping_s += (b1 - b0) + (time.perf_counter() - span.end)
            return out

        wrapper.__wrapped__ = fn
        return wrapper

    def patch(self, owner, name: str, layer: str, **kw) -> None:
        orig = getattr(owner, name)
        self._patched.append((owner, name, orig))
        setattr(owner, name, self.wrap(layer, orig, **kw))

    # -- the patches ----------------------------------------------------

    def install(self) -> None:
        from couch_to_mongo_spark import bootstrap
        from couch_to_mongo_spark.operators import compact, corpus_view
        from couch_to_mongo_spark.streaming import cdc, lineage
        from couch_to_mongo_spark.tableformat import LakeTable

        path_of = lambda self_, *a, **k: self_.path  # noqa: E731
        table_of = lambda table, *a, **k: table.path  # noqa: E731

        self.patch(cdc.CdcPipeline, "process_batch", "cdc.batch", after=self._after_batch)
        self.patch(cdc, "merge_batch", "merge", tag_of=table_of, after=self._after_merge,
                   job_group=True)
        self.patch(corpus_view, "merge_batch", "merge", tag_of=table_of,
                   after=self._after_merge, job_group=True)
        self.patch(cdc, "feed_schema_drift", "sources.drift_check", after=self._after_drift)
        self.patch(cdc, "infer_feed_schema", "sources.infer_schema")
        for meth, layer in (
            ("write_bucketed", "table.write"),
            ("commit", "table.commit"),
            ("snapshot", "table.snapshot"),
            ("read", "table.read"),
            ("read_buckets", "table.read"),
            ("read_appended", "table.read"),
        ):
            self.patch(LakeTable, meth, layer, tag_of=path_of,
                       after=self._after_write if meth == "write_bucketed" else None)
        self.patch(compact, "compact", "compact", tag_of=table_of, after=self._after_compact)
        self.patch(lineage.LineageLog, "append", "lineage.append")
        self.patch(bootstrap, "bulk_bootstrap", "bootstrap", after=self._after_bootstrap)
        view_path = lambda self_, *a, **k: self_.view.path  # noqa: E731
        for meth, layer in (("catch_up", "view.catch_up"), ("maybe_compact", "view.compact"),
                            ("read", "view.read")):
            self.patch(corpus_view.RenderedCorpusView, meth, layer, tag_of=view_path)

    def uninstall(self) -> None:
        for owner, name, orig in reversed(self._patched):
            setattr(owner, name, orig)
        self._patched.clear()

    # -- attribute hooks (run after the wrapped call) ---------------------

    def _after_batch(self, span, out, pipeline, *a, **k):
        span.tag = pipeline.table.path

    def _after_merge(self, span, res, *a, **k):
        if res is not None and not res.skipped:
            span.attrs.update(rows_applied=res.rows_applied, touched=res.touched_buckets)

    def _after_drift(self, span, out, paths, *a, **k):
        avail = sum(1 for e in os.scandir(self.feed_dir) if e.name.endswith(".parquet"))
        span.attrs.update(
            files=len(paths),
            rows=sum(self.feed_rows.get(os.path.abspath(p), 0) for p in paths),
            lag=avail - self.files_seen,
        )
        self.files_seen += len(paths)

    def _after_write(self, span, out, *a, **k):
        span.attrs["files"] = sum(len(v) for v in out.values())

    def _after_compact(self, span, out, *a, **k):
        span.attrs["folded"] = sum(out.values()) if out else 0

    def _after_bootstrap(self, span, out, *a, **k):
        span.attrs["rows"] = out[1].rows_applied


# ---------------------------------------------------------------------------
# Spark event log


def read_event_log(log_dir: str) -> dict[str, dict]:
    """Per job group: shuffle bytes written, disk spill, task count and the
    task skew (max / median executor run time) of its worst shuffle-read
    stage. Call after ``spark.stop()`` so the log is complete."""
    stage_group: dict[int, str] = {}
    tasks: dict[int, list[dict]] = {}
    for path in glob.glob(os.path.join(log_dir, "**", "*"), recursive=True):
        if os.path.isdir(path):
            continue
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    if group and group.startswith("perfbench-merge-"):
                        for sid in ev.get("Stage IDs", []):
                            stage_group[sid] = group
                elif kind == "SparkListenerTaskEnd":
                    m = ev.get("Task Metrics") or {}
                    rd = m.get("Shuffle Read Metrics") or {}
                    tasks.setdefault(ev["Stage ID"], []).append(
                        {
                            "run": m.get("Executor Run Time", 0),
                            "read": rd.get("Remote Bytes Read", 0) + rd.get("Local Bytes Read", 0),
                            "write": (m.get("Shuffle Write Metrics") or {}).get(
                                "Shuffle Bytes Written", 0
                            ),
                            "spill": m.get("Disk Bytes Spilled", 0),
                        }
                    )
    out: dict[str, dict] = {}
    for sid, group in stage_group.items():
        ts = tasks.get(sid, [])
        g = out.setdefault(group, {"shuffle_bytes": 0, "spill_bytes": 0, "tasks": 0, "skew": 0.0})
        g["shuffle_bytes"] += sum(t["write"] for t in ts)
        g["spill_bytes"] += sum(t["spill"] for t in ts)
        g["tasks"] += len(ts)
        if any(t["read"] for t in ts):
            runs = [t["run"] for t in ts]
            med = statistics.median(runs)
            g["skew"] = max(g["skew"], max(runs) / med if med > 0 else 1.0)
    return out


# ---------------------------------------------------------------------------
# Summary


def _self_time(span: Span, children: list[Span]) -> float:
    """Span duration minus the part of it its children cover (union)."""
    covered, cur_s, cur_e = 0.0, None, None
    for c in sorted(children, key=lambda c: c.start):
        s, e = max(c.start, span.start), min(c.end, span.end)
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                covered += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        covered += cur_e - cur_s
    return (span.end - span.start) - covered


def _med(xs) -> float:
    xs = list(xs)
    return float(statistics.median(xs)) if xs else 0.0


def summarize(tracer: Tracer, window: tuple[float, float, float], primary: str,
              live_files: int, groups: dict[str, dict]) -> dict[str, float]:
    """Per-layer metrics over the spans that started inside the run's
    ``(ingest start, ingest end, read phase end)`` window
    (``time.perf_counter`` bounds); bootstrap spans are taken from set-up."""
    t0, t1, t2 = window
    spans = tracer.spans
    kids: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append(s)
    inw = [s for s in spans if t0 <= s.start <= t2]

    def of(layer, tag=None):
        return [s for s in inw if s.layer == layer and (tag is None or s.tag == tag)]

    batches = sorted(of("cdc.batch", primary), key=lambda s: s.start)
    gaps = [b.start - a.end for a, b in zip(batches, batches[1:])]
    merges = of("merge", primary)
    applied = [m for m in merges if "rows_applied" in m.attrs]
    drifts = of("sources.drift_check")
    rows_in = sum(d.attrs.get("rows", 0) for d in drifts)
    rows_applied = sum(m.attrs["rows_applied"] for m in applied)
    mg = [groups.get(f"perfbench-merge-{m.sid}") for m in applied]
    mg = [g for g in mg if g]
    compacts = [c for c in of("compact", primary) if c.attrs.get("folded")]
    busy = sum(c.end - c.start for c in compacts)
    boots = [s for s in spans if s.layer == "bootstrap"]

    def dur(ss):
        return _med(s.end - s.start for s in ss)

    return {
        "cdc.batch_s": dur(batches),
        "cdc.trigger_gap_s": _med(gaps),
        "cdc.batches_applied": len(applied),
        "cdc.batches_fenced": len(merges) - len(applied),
        "merge.self_s": _med(_self_time(m, kids.get(m.sid, [])) for m in merges),
        "merge.rows_in": rows_in,
        "merge.rows_applied": rows_applied,
        "merge.keep_ratio": rows_applied / rows_in if rows_in else 0.0,
        "merge.touched_buckets": _med(m.attrs["touched"] for m in applied),
        "merge.shuffle_bytes": sum(g["shuffle_bytes"] for g in mg),
        "merge.spill_bytes": sum(g["spill_bytes"] for g in mg),
        "merge.task_skew": _med(g["skew"] for g in mg),
        "merge.tasks": _med(g["tasks"] for g in mg),
        "table.write_s": dur(of("table.write", primary)),
        "table.commit_s": dur(of("table.commit", primary)),
        # snapshot loads made by the engine's layers (a root-level load is
        # the benchmark itself polling for the drain)
        "table.snapshot_s": dur(s for s in of("table.snapshot", primary) if s.parent),
        "table.read_s": dur(of("table.read", primary)),
        "table.files_written": sum(s.attrs.get("files", 0) for s in of("table.write", primary)),
        "table.live_files": live_files,
        "compact.runs": len(compacts),
        "compact.busy_s": busy,
        "compact.busy_share": busy / (t1 - t0) if t1 > t0 else 0.0,
        "compact.files_folded": sum(c.attrs["folded"] for c in compacts),
        "sources.drift_check_s": dur(drifts),
        "sources.infer_schema_s": dur(of("sources.infer_schema")),
        "sources.files_per_batch": _med(d.attrs.get("files", 0) for d in drifts),
        "sources.lag_files": _med(d.attrs.get("lag", 0) for d in drifts),
        "lineage.append_s": dur(of("lineage.append")),
        "bootstrap.s": dur(boots),
        "bootstrap.rows": _med(s.attrs.get("rows", 0) for s in boots),
        "view.catch_up_s": dur(of("view.catch_up")),
        "view.compact_s": dur(of("view.compact")),
        "view.read_s": dur(of("view.read")),
        "trace.spans": len(spans),
        "trace.bookkeeping_s": tracer.bookkeeping_s,
    }
