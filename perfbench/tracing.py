"""In-memory spans around the engine's layer entry points.

The benchmark never edits package code: ``install`` replaces each
entry point, in every ``durablestreams_spark`` module that holds it,
with a wrapper that records a span (name, start, end, parent id) and
returns an ``undo`` callable.  Spans of one thread nest through a
thread-local stack; self time is a span's duration minus the part its
children cover.  Nothing is written until ``dump`` at the end of a run.
"""

from __future__ import annotations

import collections
import functools
import itertools
import json
import sys
import threading
import time

from harness import median


class Tracer:
    def __init__(self):
        self.spans = []  # (id, parent, name, t0, t1, thread, error)
        self.counters = collections.Counter()
        self._ids = itertools.count(1)
        self._local = threading.local()

    def _stack(self):
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def inside(self, name):
        return any(n == name for _i, n in self._stack())

    def count(self, key, n=1):
        self.counters[key] += n

    def wrap(self, name, fn, on_result=None, on_error=None):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            sid = next(self._ids)
            stack = self._stack()
            parent = stack[-1][0] if stack else None
            stack.append((sid, name))
            t0 = time.perf_counter()
            err = None
            try:
                out = fn(*args, **kwargs)
                if on_result is not None:
                    on_result(self, args, kwargs, out)
                return out
            except BaseException as exc:
                err = type(exc).__name__
                if on_error is not None:
                    on_error(self, exc)
                raise
            finally:
                t1 = time.perf_counter()
                stack.pop()
                self.spans.append(
                    (sid, parent, name, t0, t1, threading.get_ident(), err)
                )

        return traced

    # -- summaries ---------------------------------------------------------

    def by_name(self, name):
        return [s for s in self.spans if s[2] == name]

    def durations_ms(self, name):
        return [(s[4] - s[3]) * 1000.0 for s in self.by_name(name)]

    def self_times_s(self):
        """Total self time per span name."""
        kids = collections.defaultdict(list)
        for s in self.spans:
            if s[1] is not None:
                kids[s[1]].append((s[3], s[4]))
        out = collections.Counter()
        for sid, _p, name, t0, t1, _t, _e in self.spans:
            covered = 0.0
            end = t0
            for c0, c1 in sorted(kids.get(sid, ())):
                c0, c1 = max(c0, end), min(c1, t1)
                if c1 > c0:
                    covered += c1 - c0
                    end = c1
            out[name] += (t1 - t0) - covered
        return out

    def dump(self, path):
        t_base = min((s[3] for s in self.spans), default=0.0)
        with open(path, "w") as f:
            json.dump(
                {
                    "counters": dict(self.counters),
                    "self_time_s": {k: round(v, 6) for k, v in self.self_times_s().items()},
                    "spans": [
                        {
                            "id": s[0],
                            "parent": s[1],
                            "name": s[2],
                            "start_s": round(s[3] - t_base, 6),
                            "end_s": round(s[4] - t_base, 6),
                            "thread": s[5],
                            "error": s[6],
                        }
                        for s in self.spans
                    ],
                },
                f,
            )


class _Proxy:
    """A stand-in for a module (``os``, ``pyarrow.parquet``) inside one
    engine module: every attribute forwards, the named ones are traced."""

    def __init__(self, target, wrapped):
        self._target = target
        self._wrapped = wrapped

    def __getattr__(self, name):
        w = self._wrapped.get(name)
        return w if w is not None else getattr(self._target, name)


def _engine_modules():
    return [
        m
        for name, m in list(sys.modules.items())
        if m is not None and (name == "durablestreams_spark" or name.startswith("durablestreams_spark."))
    ]


def install(tracer):
    """Wrap the layer entry points; returns ``undo``."""
    import os

    import pyarrow.parquet as pq

    import durablestreams_spark.ingest as ingest
    import durablestreams_spark.maintenance as maintenance
    import durablestreams_spark.manifest as manifest
    import durablestreams_spark.operators.cache_marker as cache_marker
    import durablestreams_spark.stream as stream
    import durablestreams_spark.streaming.ingest as s_ingest

    undo = []

    def set_attr(obj, attr, value):
        undo.append((obj, attr, getattr(obj, attr)))
        setattr(obj, attr, value)

    def everywhere(module, attr, name, **hooks):
        """Patch ``module.attr`` and every engine module that imported
        the same object by name."""
        orig = getattr(module, attr)
        traced = tracer.wrap(name, orig, **hooks)
        for m in _engine_modules():
            if getattr(m, attr, None) is orig:
                set_attr(m, attr, traced)

    def method(cls, attr, name, **hooks):
        set_attr(cls, attr, tracer.wrap(name, getattr(cls, attr), **hooks))

    def conflict(tr, exc):
        if isinstance(exc, manifest.CommitConflict):
            tr.count("manifest.conflicts")

    def committed(tr, args, kwargs, out):
        if tr.inside("maintenance.compact"):
            tr.count("maintenance.segments_merged", len(args[1].get("remove", ())))

    def stream_commit_error(tr, exc):
        # compact() swallows this conflict and returns None: a lost race
        if isinstance(exc, manifest.CommitConflict) and tr.inside("maintenance.compact"):
            tr.count("maintenance.compact_lost_races")

    def marker(tr, args, kwargs, out):
        tr.count("artifacts.hits" if out else "artifacts.misses")

    def point_path(tr, args, kwargs, out):
        if tr.inside("streaming.flush_batch"):
            tr.count("streaming.flush_point_path")

    def bulk_path(tr, args, kwargs, out):
        if tr.inside("streaming.flush_batch"):
            tr.count("streaming.flush_bulk_path")

    def read_rows(tr, args, kwargs, out):
        if tr.inside("stream.consume"):
            tr.count("stream.rows_decoded", out.num_rows)

    def consumed(tr, args, kwargs, out):
        tr.count("stream.rows_returned", len(out))

    def refolded(tr, args, kwargs, out):
        if tr.inside("stream.tail"):
            tr.count("stream.tail_refolds")

    def tailed(tr, args, kwargs, out):
        if out:
            tr.count("stream.tail_deliveries")

    def fsynced(tr, args, kwargs, out):
        tr.count("os.fsync")
        if tr.inside("stream.produce"):
            tr.count("stream.produce_fsyncs")

    method(manifest.Manifest, "commit", "manifest.commit", on_result=committed, on_error=conflict)
    method(manifest.Manifest, "load", "manifest.load")
    method(stream.Stream, "produce", "stream.produce", on_result=point_path)
    method(stream.Stream, "consume", "stream.consume", on_result=consumed)
    method(stream.Stream, "tail", "stream.tail", on_result=tailed)
    method(stream.Stream, "to_df", "stream.to_df")
    method(stream.Stream, "refresh", "stream.refresh", on_result=refolded)
    method(stream.Stream, "_write_segment", "stream.write_segment")
    method(stream.Stream, "_commit", "stream.commit_retry", on_error=stream_commit_error)
    everywhere(maintenance, "compact", "maintenance.compact")
    everywhere(ingest, "assign_offsets", "ingest.assign_offsets")
    everywhere(ingest, "produce_bulk", "ingest.produce_bulk", on_result=bulk_path)
    everywhere(ingest, "_finish_bulk", "ingest.finish_bulk")
    everywhere(s_ingest, "flush_batch", "streaming.flush_batch")
    everywhere(cache_marker, "marker_current", "cache_marker.marker_current", on_result=marker)

    # Tail wakeups: every Stream built while tracing gets a condition
    # variable that counts the waits a blocked tail makes.
    class CountingCondition(threading.Condition):
        def wait(self, timeout=None):
            if tracer.inside("stream.tail"):
                tracer.count("stream.tail_wakeups")
            return super().wait(timeout)

    orig_init = stream.Stream.__init__

    @functools.wraps(orig_init)
    def init(self, *a, **kw):
        orig_init(self, *a, **kw)
        self._data_cond = CountingCondition()

    set_attr(stream.Stream, "__init__", init)

    # pyarrow reads/writes and fsyncs, as the log modules make them.
    pq_proxy = _Proxy(
        pq,
        {
            "read_table": tracer.wrap("pyarrow.read_table", pq.read_table, on_result=read_rows),
            "write_table": tracer.wrap("pyarrow.write_table", pq.write_table),
            "read_metadata": tracer.wrap("pyarrow.read_metadata", pq.read_metadata),
        },
    )
    os_proxy = _Proxy(os, {"fsync": tracer.wrap("os.fsync", os.fsync, on_result=fsynced)})
    for mod in (stream, maintenance, ingest):
        set_attr(mod, "pq", pq_proxy)
    for mod in (manifest, ingest):
        set_attr(mod, "os", os_proxy)

    # Persisted ANN artifacts (served or built on first use), when the
    # operators are loaded.
    similarity = sys.modules.get("durablestreams_spark.operators.similarity")
    if similarity is not None:
        everywhere(similarity, "_ann_cached", "artifacts.ann_cached")

    # Spark's parquet write, the body of produce_bulk's write phase.
    try:
        from pyspark.sql.readwriter import DataFrameWriter

        method(DataFrameWriter, "parquet", "spark.write_parquet")
    except ImportError:
        pass

    def restore():
        for obj, attr, old in reversed(undo):
            setattr(obj, attr, old)
        undo.clear()

    return restore


def layer_metrics(tracer):
    """Per-layer numbers derived from the spans and counters of a run,
    for the log layers every workload passes through."""
    c = tracer.counters

    def p50(name):
        d = tracer.durations_ms(name)
        return median(d) if d else 0.0

    produces = len(tracer.by_name("stream.produce"))
    consume_read = _per_parent_sum(tracer, "pyarrow.read_table", "stream.consume")
    compacts = tracer.by_name("maintenance.compact")
    return {
        "manifest.commit_ms_p50": (p50("manifest.commit"), "ms"),
        "manifest.commits": (len(tracer.by_name("manifest.commit")), "count"),
        "manifest.conflicts": (c["manifest.conflicts"], "count"),
        "manifest.load_ms_p50": (p50("manifest.load"), "ms"),
        "manifest.loads": (len(tracer.by_name("manifest.load")), "count"),
        "stream.write_segment_ms_p50": (p50("stream.write_segment"), "ms"),
        "stream.fsyncs_per_produce": (c["stream.produce_fsyncs"] / produces if produces else 0.0, "ratio"),
        "stream.consume_read_ms_p50": (median(consume_read) if consume_read else 0.0, "ms"),
        "stream.rows_decoded_per_row_returned": (
            c["stream.rows_decoded"] / c["stream.rows_returned"] if c["stream.rows_returned"] else 0.0,
            "ratio",
        ),
        "stream.tail_wakeups_per_delivery": (
            c["stream.tail_wakeups"] / c["stream.tail_deliveries"] if c["stream.tail_deliveries"] else 0.0,
            "ratio",
        ),
        "stream.tail_refolds": (c["stream.tail_refolds"], "count"),
        "maintenance.compact_ms_p50": (p50("maintenance.compact"), "ms"),
        "maintenance.compacts": (len(compacts), "count"),
        "maintenance.compact_lost_races": (c["maintenance.compact_lost_races"], "count"),
        "maintenance.segments_merged": (c["maintenance.segments_merged"], "count"),
    }


def streaming_metrics(tracer):
    """The flush side of group commit: per-flush time and which path
    (point produce or bulk) each micro-batch took."""
    c = tracer.counters
    d = tracer.durations_ms("streaming.flush_batch")
    return {
        "streaming.flush_ms_p50": (median(d) if d else 0.0, "ms"),
        "streaming.flush_point_path": (c["streaming.flush_point_path"], "count"),
        "streaming.flush_bulk_path": (c["streaming.flush_bulk_path"], "count"),
    }


def ingest_metrics(tracer, since=0.0):
    """Phases of one ``produce_bulk`` (median over the calls that
    started after ``since``): offset assignment, the Spark parquet
    write, the fsync + footer scan, and the manifest commit."""
    names = {s[0]: s[2] for s in tracer.spans}
    kids = collections.defaultdict(list)
    for s in tracer.spans:
        kids[s[1]].append(s)

    def under(sid, name):
        """Summed duration of ``name`` spans anywhere below ``sid``."""
        total, stack = 0.0, list(kids.get(sid, ()))
        while stack:
            s = stack.pop()
            if s[2] == name:
                total += s[4] - s[3]
            stack.extend(kids.get(s[0], ()))
        return total

    rows = []
    for call in tracer.by_name("ingest.produce_bulk"):
        if call[3] < since:
            continue
        finish = sum(s[4] - s[3] for s in kids.get(call[0], ()) if names[s[0]] == "ingest.finish_bulk")
        write = under(call[0], "spark.write_parquet")
        commit = under(call[0], "manifest.commit")
        rows.append((under(call[0], "ingest.assign_offsets"), write, max(0.0, finish - write - commit), commit))
    cols = list(zip(*rows)) or [[0.0]] * 4
    return {
        f"ingest.{k}": (median(v), "s")
        for k, v in zip(("assign_s", "write_s", "fsync_scan_s", "commit_s"), cols)
    }


def artifact_metrics(tracer):
    """Persisted artifacts: a cache-marker or ANN-index lookup that had
    to write the artifact is a miss (its time is build time), one that
    did not is a hit."""
    names = {s[0]: s[2] for s in tracer.spans}
    built = {
        p
        for s in tracer.by_name("spark.write_parquet")
        for p in [_ancestor(tracer, s, "artifacts.ann_cached", names)]
        if p is not None
    }
    ann = tracer.by_name("artifacts.ann_cached")
    c = tracer.counters
    return {
        "artifacts.build_s": (sum(s[4] - s[3] for s in ann if s[0] in built), "s"),
        "artifacts.hits": (c["artifacts.hits"] + sum(1 for s in ann if s[0] not in built), "count"),
        "artifacts.misses": (c["artifacts.misses"] + len(built), "count"),
    }


def _ancestor(tracer, span, name, names):
    """Id of the nearest ancestor span called ``name``, or None."""
    parents = {s[0]: s[1] for s in tracer.spans}
    p = span[1]
    while p is not None:
        if names.get(p) == name:
            return p
        p = parents.get(p)
    return None


def _per_parent_sum(tracer, child, parent_name):
    """Summed duration (ms) of ``child`` spans under each ``parent_name``
    span, one value per parent span."""
    parents = {s[0] for s in tracer.by_name(parent_name)}
    acc = collections.Counter()
    for s in tracer.by_name(child):
        if s[1] in parents:
            acc[s[1]] += (s[4] - s[3]) * 1000.0
    # parents that read nothing still count as a zero-cost read
    return [acc.get(p, 0.0) for p in parents]
