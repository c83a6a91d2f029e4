"""Span tracing around calls into the library's layers (traced runs only).

The tracer wraps the library's public functions from outside: it replaces
each function on its module (and on any module that imported it by name)
with a wrapper that opens a span, and restores the originals on
``uninstall``. Untraced runs never install it, so they run the library
unmodified.

A span is (id, layer, name, parent, op, start, end). Each span also gets
its own Spark job group, so every job is attributed to the innermost span
that launched it; jobs from threads the span did not start (a streaming
query's micro-batches) fall back to the innermost span open at their
submission time. Stage metrics come from the local monitoring REST API
once, after the traced phase. py4j calls are counted by wrapping py4j's
command send; the tracer's own calls are not counted.
"""

from __future__ import annotations

import contextlib
import datetime as dt
import functools
import json
import os
import time
import urllib.request
from collections import defaultdict
from dataclasses import dataclass, field

from py4j.java_gateway import GatewayClient

from stats import self_time

#: stage-metric fields summed per span: REST field -> (counter, scale)
STAGE_FIELDS = {
    "numTasks": ("tasks", 1),
    "inputBytes": ("input_bytes", 1),
    "shuffleReadBytes": ("shuffle_read_bytes", 1),
    "shuffleWriteBytes": ("shuffle_write_bytes", 1),
    "diskBytesSpilled": ("spill_bytes", 1),
    "executorCpuTime": ("executor_cpu_s", 1e-9),
    "jvmGcTime": ("jvm_gc_s", 1e-3),
}
COUNTERS = ["py4j", "jobs", "stages", *(c for c, _ in STAGE_FIELDS.values())]


@dataclass
class Span:
    id: int
    layer: str
    name: str
    parent: int | None
    op: str | None
    start: float = 0.0  # wall clock (time.time), comparable with REST times
    end: float = 0.0
    # py4j is counted over the span's whole duration; jobs and stage
    # metrics are the span's own, see Tracer.inclusive
    counts: dict[str, float] = field(default_factory=lambda: dict.fromkeys(COUNTERS, 0))
    attrs: dict = field(default_factory=dict)


def _library_targets():
    """(layer, [(owner, attribute), ...]) for every wrapped library call.

    A function imported by name into another module is wrapped there too,
    since callers look it up in their own namespace.
    """
    from pyspark.sql.classic.dataframe import DataFrame
    from pyspark.sql.readwriter import DataFrameReader

    import etl_oms_spark.plans.pipelines as pipelines
    import etl_oms_spark.reconcile as reconcile
    import etl_oms_spark.sources.merge_table as merge_table
    import etl_oms_spark.sources.readers as readers
    import etl_oms_spark.star as star
    import etl_oms_spark.transform as transform

    def both(module, names):
        out = [(module, n) for n in names]
        out += [(pipelines, n) for n in names if hasattr(pipelines, n)]
        return out

    return [
        ("sources", [(DataFrameReader, "parquet"), (DataFrameReader, "csv"),
                     (DataFrameReader, "json"), (readers, "scan_dataset_directory")]),
        ("checkpoint", [(DataFrame, "localCheckpoint"), (DataFrame, "checkpoint"),
                        (DataFrame, "cache")]),
        ("reconcile", both(reconcile, ["reconcile", "apply_flexible_mapping",
                                       "complete_missing_columns"])),
        ("transform", both(transform, ["tolerant_timestamp", "drop_null_dates",
                                       "filter_min_date", "derive_daily_columns",
                                       "round_geo"])),
        ("star", both(star, ["build_pays", "build_region", "build_maladie", "build_fact",
                             "keep_last_dedup", "rollup_statistique", "grow_dimension"])),
        ("merge_table", [(merge_table, "merge_into_parquet")]),
    ]


def _data_files(path: str) -> dict[str, int]:
    """Data files under a table directory: relative path -> size."""
    out = {}
    for root, _dirs, files in os.walk(path):
        for f in files:
            if f.startswith(("part-", "part_")) and not f.endswith(".crc"):
                full = os.path.join(root, f)
                out[os.path.relpath(full, path)] = os.path.getsize(full)
    return out


class Tracer:
    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        self.spans: list[Span] = []
        self.op: str | None = None
        self._stack: list[int] = []
        self._py4j = 0
        self._own = 0
        self._patches: list[tuple[object, str, object]] = []
        self.conf_leaks: dict[str, str] = {}
        self._conf_base: dict[str, str] = {}
        self.own_s = 0.0

    # -- spans --------------------------------------------------------------

    @contextlib.contextmanager
    def own(self):
        """The tracer's own work: its py4j calls are not counted, and its
        time is the tracing overhead."""
        self._own += 1
        t0 = time.perf_counter()
        try:
            yield
        finally:
            if self._own == 1:
                self.own_s += time.perf_counter() - t0
            self._own -= 1

    def _set_group(self, group: str) -> None:
        with self.own():
            self.sc.setJobGroup(group, group)

    @contextlib.contextmanager
    def span(self, layer: str, name: str):
        parent = self._stack[-1] if self._stack else None
        s = Span(len(self.spans), layer, name, parent, self.op)
        self.spans.append(s)
        self._stack.append(s.id)
        self._set_group(f"pb{s.id}")
        calls = self._py4j
        s.start = time.time()
        try:
            yield s
        finally:
            s.end = time.time()
            s.counts["py4j"] = self._py4j - calls
            self._stack.pop()
            self._set_group(f"pb{self._stack[-1]}" if self._stack else "pb-idle")

    def annotate(self, **attrs) -> None:
        """Attach attributes to the innermost open span."""
        self.spans[self._stack[-1]].attrs.update(attrs)

    # -- wrapping -----------------------------------------------------------

    def install(self) -> None:
        tracer = self
        send = GatewayClient.send_command

        def counted(client, *args, **kwargs):
            if not tracer._own:
                tracer._py4j += 1
            return send(client, *args, **kwargs)

        self._patch(GatewayClient, "send_command", counted)
        for layer, targets in _library_targets():
            for owner, attr in targets:
                self._patch(owner, attr, self._wrapper(layer, attr, getattr(owner, attr)))

    def _patch(self, owner, attr: str, new) -> None:
        self._patches.append((owner, attr, getattr(owner, attr)))
        setattr(owner, attr, new)

    def uninstall(self) -> None:
        while self._patches:
            owner, attr, orig = self._patches.pop()
            setattr(owner, attr, orig)

    def _wrapper(self, layer: str, name: str, fn):
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with tracer.span(layer, name) as s:
                if layer == "checkpoint" and name != "cache":
                    before = tracer._stored()
                    out = fn(*args, **kwargs)
                    after = tracer._stored()
                    s.attrs["bytes"] = sum(n for i, n in after.items() if i not in before)
                    return out
                if layer == "merge_table":
                    target = args[1] if len(args) > 1 else kwargs["target_path"]
                    with tracer.own():
                        before = _data_files(target)
                    out = fn(*args, **kwargs)
                    with tracer.own():
                        after = _data_files(target)
                    new = {p: n for p, n in after.items() if p not in before}
                    s.attrs.update(
                        files_written=len(new),
                        bytes_written=sum(new.values()),
                        partitions_touched=len({os.path.dirname(p) for p in new}),
                        target_bytes=sum(after.values()),
                    )
                    return out
                return fn(*args, **kwargs)

        return traced

    def _stored(self) -> dict[int, int]:
        """RDD id -> bytes the block manager holds for it, over persisted
        and checkpointed RDDs; an eager checkpoint adds a new id."""
        with self.own():
            infos = self.sc._jsc.sc().getRDDStorageInfo()
            return {i.id(): i.memSize() + i.diskSize() for i in infos}

    # -- session hygiene ----------------------------------------------------

    def conf_baseline(self) -> None:
        with self.own():
            self._conf_base = dict(self.spark.conf.getAll)

    def conf_check(self, op: str) -> None:
        """Record each conf key an op left changed, once, with that op."""
        with self.own():
            now = dict(self.spark.conf.getAll)
        for key in set(now) | set(self._conf_base):
            if now.get(key) != self._conf_base.get(key) and key not in self.conf_leaks:
                self.conf_leaks[key] = op

    # -- stage metrics ------------------------------------------------------

    def _rest(self, what: str):
        port = self.sc.uiWebUrl.rsplit(":", 1)[1]
        url = f"http://127.0.0.1:{port}/api/v1/applications/{self.sc.applicationId}/{what}"
        with urllib.request.urlopen(url, timeout=30) as r:
            return json.load(r)

    def attribute_jobs(self) -> None:
        """Fold every job and its executed stages into the span that ran it."""
        jobs = []
        for _ in range(50):  # the UI listener trails job completion slightly
            jobs = self._rest("jobs")
            if all(j["status"] != "RUNNING" for j in jobs):
                break
            time.sleep(0.2)
        stages = {}
        for st in self._rest("stages"):
            if st["status"] == "COMPLETE":
                stages.setdefault(st["stageId"], []).append(st)
        claimed: set[int] = set()
        for job in sorted(jobs, key=lambda j: j["jobId"]):
            span = self._job_span(job)
            if span is None:
                continue
            span.counts["jobs"] += 1
            for sid in job["stageIds"]:
                if sid in claimed or sid not in stages:
                    continue
                claimed.add(sid)
                for attempt in stages[sid]:
                    span.counts["stages"] += 1
                    for f, (counter, scale) in STAGE_FIELDS.items():
                        span.counts[counter] += attempt.get(f, 0) * scale

    def _job_span(self, job) -> Span | None:
        group = job.get("jobGroup") or ""
        if group.startswith("pb") and group[2:].isdigit():
            return self.spans[int(group[2:])]
        if group == "pb-idle" or "submissionTime" not in job:
            return None
        t = dt.datetime.strptime(
            job["submissionTime"].replace("GMT", "+0000"), "%Y-%m-%dT%H:%M:%S.%f%z"
        ).timestamp()
        open_spans = [s for s in self.spans if s.start <= t <= s.end]
        return max(open_spans, key=lambda s: s.start) if open_spans else None

    # -- aggregation --------------------------------------------------------

    def inclusive(self) -> list[dict[str, float]]:
        """Per span counters including all descendants (children always have
        larger ids than their parent, so one reverse pass suffices)."""
        incl = [dict(s.counts) for s in self.spans]
        for s in reversed(self.spans):
            if s.parent is not None:
                for k, v in incl[s.id].items():
                    if k != "py4j":  # py4j is already inclusive
                        incl[s.parent][k] += v
        return incl

    def self_times(self) -> list[float]:
        kids: dict[int, list[tuple[float, float]]] = defaultdict(list)
        for s in self.spans:
            if s.parent is not None:
                kids[s.parent].append((s.start, s.end))
        return [self_time(s.start, s.end, kids[s.id]) for s in self.spans]

    def op_span(self, s: Span) -> Span:
        """The op span a span ran under."""
        while s.layer != "op" and s.parent is not None:
            s = self.spans[s.parent]
        return s

    def outermost(self, layer: str) -> list[Span]:
        """Spans of ``layer`` not nested inside another span of ``layer``."""
        out = []
        for s in self.spans:
            if s.layer != layer:
                continue
            p = s.parent
            while p is not None and self.spans[p].layer != layer:
                p = self.spans[p].parent
            if p is None:
                out.append(s)
        return out

    def dump(self, path: str) -> None:
        incl = self.inclusive()
        selfs = self.self_times()
        rows = [
            {"id": s.id, "layer": s.layer, "name": s.name, "parent": s.parent, "op": s.op,
             "start": s.start, "end": s.end, "self_s": selfs[s.id],
             "counts": s.counts, "inclusive": incl[s.id], "attrs": s.attrs}
            for s in self.spans
        ]
        with open(path, "w") as f:
            json.dump({"spans": rows, "conf_leaks": self.conf_leaks}, f)
