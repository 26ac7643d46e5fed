"""Per-layer tracing for the traced run (``--trace 1``).

Spans are recorded from the benchmark's side only: :class:`Tracer`
wraps the public functions of each layer (``codecs``, ``Volume`` verbs,
``PathOps``, ``VolumeInfo.load``, the pyarrow scan the serving path
reads through) for the length of the traced phase and restores them
afterwards. Spans stay in memory. There is one client, so a span opened
on a thread with no open span (the ``cutout`` decode pool) gets the op
in flight as its parent.

Spark's own per-task numbers come from the event log: every op of the
traced phase runs under ``setJobDescription("<workload>:<op>:<seq>")``
and :func:`spark_layer` folds the log's task metrics per tag. Codec
calls inside Python workers are invisible to the driver-side wrappers;
they only show in ``spark.task_offcpu_s``.
"""

from __future__ import annotations

import contextlib
import functools
import glob
import itertools
import json
import os
import threading
import time
from collections import Counter, defaultdict

MB = 1e6

VOLUME_VERBS = ("cutout", "read_voxel", "unique", "upload",
                "write_blocks_df", "downsample")
CODEC_FUNCS = ("decompress_stream", "decode", "encode", "compress_stream",
               "read_voxel")
FS_METHODS = ("exists", "rmtree", "rename", "makedirs", "listdir",
              "create_exclusive", "create_with_content", "remove", "mtime",
              "read_bytes", "write_bytes")


class Span:
    __slots__ = ("id", "parent", "name", "t0", "t1")

    def __init__(self, sid, parent, name, t0):
        self.id, self.parent, self.name, self.t0 = sid, parent, name, t0
        self.t1 = t0


def union_length(intervals, lo=None, hi=None) -> float:
    """Length of the union of ``(a, b)`` intervals, clipped to [lo, hi]."""
    total, end = 0.0, None
    for a, b in sorted(intervals):
        if lo is not None:
            a, b = max(a, lo), min(b, hi)
        if b <= a:
            continue
        if end is None or a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total


class Tracer:
    """In-memory span recorder plus the wrappers that feed it."""

    def __init__(self):
        self.spans: list = []
        self.counters: Counter = Counter()
        self._ids = itertools.count(1)
        self._tls = threading.local()
        self._lock = threading.Lock()
        self._op = None
        self._patched: list = []

    # -- spans ----------------------------------------------------------
    def _open(self, name):
        stack = getattr(self._tls, "stack", None)
        if stack is None:
            stack = self._tls.stack = []
        parent = stack[-1].id if stack else (self._op.id if self._op else None)
        sp = Span(next(self._ids), parent, name, time.perf_counter())
        stack.append(sp)
        return sp

    def _close(self, sp):
        sp.t1 = time.perf_counter()
        self._tls.stack.pop()
        with self._lock:
            self.spans.append(sp)

    @contextlib.contextmanager
    def span(self, name):
        sp = self._open(name)
        try:
            yield
        finally:
            self._close(sp)

    def begin_op(self, name):
        self._op = self._open(name)
        return self._op

    def end_op(self):
        self._close(self._op)
        self._op = None

    def count(self, key, n=1):
        with self._lock:
            self.counters[key] += n

    # -- wrappers ---------------------------------------------------------
    def wrap(self, owner, attr, name, on_result=None, on_args=None):
        raw = owner.__dict__[attr] if isinstance(owner, type) else getattr(owner, attr)
        kind = type(raw) if isinstance(raw, (classmethod, staticmethod)) else None
        fn = raw.__func__ if kind else raw
        tracer = self

        @functools.wraps(fn)
        def traced(*a, **kw):
            sp = tracer._open(name)
            try:
                out = fn(*a, **kw)
            finally:
                tracer._close(sp)
            tracer.count(name + ".calls")
            if on_args is not None:
                on_args(a, kw)
            if on_result is not None:
                on_result(out)
            return out

        setattr(owner, attr, kind(traced) if kind else traced)
        self._patched.append((owner, attr, raw))

    def install(self):
        import pyarrow.dataset as pads

        from cloud_volume_spark import codecs
        from cloud_volume_spark.catalog import VolumeInfo
        from cloud_volume_spark.fs import PathOps
        from cloud_volume_spark.volume import Volume

        def nbytes(key):
            def add(out):
                self.count(key, len(out) if out is not None else 0)
            return add

        for f in CODEC_FUNCS:
            self.wrap(codecs, f, f"codecs.{f}",
                      on_result=(nbytes("codecs.decompress_bytes")
                                 if f == "decompress_stream" else None))
        for v in VOLUME_VERBS:
            self.wrap(Volume, v, f"volume.{v}")
        for m in FS_METHODS:
            on_args = None
            if m in ("write_bytes", "create_with_content"):
                def on_args(a, kw):
                    data = a[2] if len(a) > 2 else kw.get("data", b"")
                    self.count("fs.write_bytes_n", len(data))
            self.wrap(PathOps, m, f"fs.{m}",
                      on_result=nbytes("fs.read_bytes_n")
                      if m == "read_bytes" else None, on_args=on_args)
        self.wrap(VolumeInfo, "load", "catalog.info_load")
        self.wrap(pads, "dataset", "storage.scan")

    def restore(self):
        for owner, attr, raw in reversed(self._patched):
            setattr(owner, attr, raw)
        self._patched.clear()

    # -- folding ----------------------------------------------------------
    def layer_metrics(self) -> dict:
        spans = self.spans
        kids = defaultdict(list)
        for s in spans:
            kids[s.parent].append(s)

        def self_time(s):
            return (s.t1 - s.t0) - union_length(
                [(k.t0, k.t1) for k in kids[s.id]], s.t0, s.t1)

        busy = Counter()
        selfs = Counter()
        for s in spans:
            busy[s.name] += s.t1 - s.t0
            if s.name.startswith("volume."):
                selfs[s.name] += self_time(s)
        c = self.counters
        out = {
            "codecs.decompress_s": busy["codecs.decompress_stream"],
            "codecs.decompress_mb": c["codecs.decompress_bytes"] / MB,
            "codecs.decode_s": busy["codecs.decode"],
            "codecs.decode_calls": c["codecs.decode.calls"],
            "codecs.read_voxel_s": busy["codecs.read_voxel"],
            "codecs.encode_s": busy["codecs.encode"],
            "codecs.compress_s": busy["codecs.compress_stream"],
        }
        for v in VOLUME_VERBS:
            out[f"volume.{v}_self_s"] = selfs[f"volume.{v}"]
        # a point read answered from the LRU touches no storage: no fs
        # call and no pyarrow scan directly below its read_voxel span
        points = [s for s in spans if s.name == "volume.read_voxel"]
        hits = sum(1 for s in points
                   if not any(k.name.startswith(("fs.", "storage."))
                              for k in kids[s.id]))
        out["volume.point_reads"] = len(points)
        out["volume.lru_hit_ratio"] = hits / len(points) if points else 0.0
        out["fs.calls"] = sum(c[f"fs.{m}.calls"] for m in FS_METHODS)
        out["fs.s"] = sum(busy[f"fs.{m}"] for m in FS_METHODS)
        out["fs.read_mb"] = c["fs.read_bytes_n"] / MB
        out["fs.write_mb"] = c["fs.write_bytes_n"] / MB
        out["fs.create_exclusive_calls"] = c["fs.create_exclusive.calls"]
        out["fs.rename_calls"] = c["fs.rename.calls"]
        out["catalog.info_loads"] = c["catalog.info_load.calls"]
        return out


def find_event_log(log_dir: str) -> str:
    logs = [p for p in glob.glob(os.path.join(log_dir, "*"))
            if not p.endswith(".inprogress")]
    if len(logs) != 1:
        raise RuntimeError(f"expected one finished event log in {log_dir}, "
                           f"found {sorted(os.listdir(log_dir))}")
    return logs[0]


def spark_layer(log_path: str, ops: dict) -> dict:
    """Fold the event log's task metrics over the tagged ops.

    ``ops`` maps each tag (``<workload>:<op>:<seq>``) to the op's wall
    interval in epoch seconds; jobs with other tags are ignored. ``spark.driver_s`` is op wall time not
    covered by any of the op's jobs (planning, scheduling gaps,
    driver-side Python)."""
    stage_tag, job_tag, job_t = {}, {}, {}
    m = Counter()
    with open(log_path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                tag = (ev.get("Properties") or {}).get("spark.job.description")
                if tag in ops:
                    job_tag[ev["Job ID"]] = tag
                    job_t[ev["Job ID"]] = [ev["Submission Time"] / 1e3, None]
                    for sid in ev.get("Stage IDs", []):
                        stage_tag.setdefault(sid, tag)
            elif kind == "SparkListenerJobEnd" and ev["Job ID"] in job_t:
                job_t[ev["Job ID"]][1] = ev["Completion Time"] / 1e3
            elif kind == "SparkListenerTaskEnd" and ev.get("Stage ID") in stage_tag:
                tm = ev.get("Task Metrics") or {}
                m["tasks"] += 1
                m["run_ms"] += tm.get("Executor Run Time", 0)
                m["cpu_ns"] += tm.get("Executor CPU Time", 0)
                m["gc_ms"] += tm.get("JVM GC Time", 0)
                sr = tm.get("Shuffle Read Metrics") or {}
                m["shuffle_read"] += (sr.get("Remote Bytes Read", 0)
                                      + sr.get("Local Bytes Read", 0))
                sw = tm.get("Shuffle Write Metrics") or {}
                m["shuffle_write"] += sw.get("Shuffle Bytes Written", 0)
                m["input"] += (tm.get("Input Metrics") or {}).get("Bytes Read", 0)
    by_op = defaultdict(list)
    for jid, tag in job_tag.items():
        a, b = job_t[jid]
        by_op[tag].append((a, b if b is not None else a))
    driver = sum(
        (t1 - t0) - union_length(by_op.get(tag, []), t0, t1)
        for tag, (t0, t1) in ops.items())
    run_s, cpu_s = m["run_ms"] / 1e3, m["cpu_ns"] / 1e9
    return {
        "spark.jobs_per_op": len(job_tag) / len(ops) if ops else 0.0,
        "spark.tasks": m["tasks"],
        "spark.task_run_s": run_s,
        "spark.jvm_cpu_s": cpu_s,
        "spark.task_offcpu_s": max(0.0, run_s - cpu_s),
        "spark.gc_s": m["gc_ms"] / 1e3,
        "spark.shuffle_read_mb": m["shuffle_read"] / MB,
        "spark.shuffle_write_mb": m["shuffle_write"] / MB,
        "spark.input_mb": m["input"] / MB,
        "spark.driver_s": driver,
    }
