"""Per-layer tracing from outside the program.

``Tracer.install`` wraps the public entry points of each layer: module
functions (rebound in every package module that imported them by name) and
class methods.  Each call records a span (name, start, end, parent) and, for
some layers, counts derived from the call's arguments and result.  Spans stay
in memory and are reduced once the run ends (``totals``, ``self_time``).

Spark executor counters are read per operation through a job group: the
caller tags an operation with ``SparkContext.setJobGroup`` and
``spark_stats`` reads that group's jobs and stages from the status store
right after the operation, before the store's bounded job and stage history
(1000 each by default) can drop them.

A layer's self time is its span time minus the part its child spans and
Spark jobs cover.  Tracing is on only while ``Tracer.on`` is true, so a run
can alternate traced and untraced passes and report the difference.
"""

from __future__ import annotations

import functools
import os
import sys
import time
from collections import defaultdict


class Tracer:
    def __init__(self):
        self.on = False
        self.spans: list[tuple[str, float, float, int]] = []  # name, t0, t1, parent
        self._stack: list[int] = []
        self.counts: dict[str, float] = defaultdict(float)
        self.job_intervals: list[tuple[float, float]] = []
        self._patched: list[tuple[object, str, object]] = []

    # -- spans ----------------------------------------------------------
    def span(self, name: str, fn, *args, **kwargs):
        if not self.on:
            return fn(*args, **kwargs)
        parent = self._stack[-1] if self._stack else -1
        idx = len(self.spans)
        self.spans.append((name, time.time(), 0.0, parent))
        self._stack.append(idx)
        try:
            return fn(*args, **kwargs)
        finally:
            self._stack.pop()
            n, t0, _, p = self.spans[idx]
            self.spans[idx] = (n, t0, time.time(), p)

    def count(self, name: str, v: float = 1.0) -> None:
        if self.on:
            self.counts[name] += v

    # -- patching -------------------------------------------------------
    def _wrap(self, name: str, fn, after=None):
        tracer = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            if not tracer.on:
                return fn(*args, **kwargs)
            out = tracer.span(name, fn, *args, **kwargs)
            if after is not None:
                after(tracer, args, kwargs, out)
            return out

        return wrapper

    def patch_method(self, cls, attr: str, name: str, after=None) -> None:
        orig = cls.__dict__[attr]
        self._patched.append((cls, attr, orig))
        setattr(cls, attr, self._wrap(name, orig, after))

    def patch_function(self, module, attr: str, name: str, after=None) -> None:
        """Wrap ``module.attr`` and every package-module binding of it."""
        orig = getattr(module, attr)
        wrapped = self._wrap(name, orig, after)
        for mod in list(sys.modules.values()):
            if mod is None or not getattr(mod, "__name__", "").startswith(
                "iceberg_trino_sql_demo_spark"
            ):
                continue
            if getattr(mod, attr, None) is orig:
                self._patched.append((mod, attr, orig))
                setattr(mod, attr, wrapped)

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._patched):
            setattr(owner, attr, orig)
        self._patched.clear()

    def install(self) -> None:
        """Wrap every layer the benchmark reports on."""
        from iceberg_trino_sql_demo_spark import engine
        from iceberg_trino_sql_demo_spark.plans import pruning
        from iceberg_trino_sql_demo_spark.sources import (
            manifest_store,
            metadata,
            reader,
            table,
            writer,
        )

        self.patch_method(engine.Engine, "sql", "engine.sql", _after_engine)
        # INSERT ... VALUES and INSERT ... SELECT both count as inserts
        for op, span in (("insert", "insert"), ("append", "insert"), ("delete", "delete"),
                         ("update", "update"), ("merge", "merge"), ("df", "df"),
                         ("optimize", "optimize"), ("expire_snapshots", "expire_snapshots"),
                         ("append_entries", "append_entries"), ("prune", "prune")):
            self.patch_method(table.Table, op, f"table.{span}")
        self.patch_function(reader, "snapshot_df", "reader.snapshot_df", _after_snapshot_df)
        self.patch_function(writer, "write_data_files", "writer.write", _after_write)
        self.patch_method(metadata.MetadataIO, "commit", "metadata.commit", _after_commit)
        self.patch_method(metadata.MetadataIO, "write_manifest", "metadata.write_manifest",
                          _after_write_manifest)
        self.patch_method(metadata.MetadataIO, "read_manifest", "metadata.read_manifest")
        # segment reads are counted, not spanned: a hit is a dict lookup
        orig_read = manifest_store.read_segment

        def read_segment(location, seg, _orig=orig_read):
            if self.on:
                self.counts["manifest_store.read_segment_calls"] += 1
                if os.path.join(location, seg.path) in manifest_store._SEG_CACHE:
                    self.counts["manifest_store.segment_hits"] += 1
            return _orig(location, seg)

        for mod in (manifest_store, metadata):
            if getattr(mod, "read_segment", None) is orig_read:
                self._patched.append((mod, "read_segment", orig_read))
                mod.read_segment = read_segment
        self.patch_function(manifest_store, "write_segment", "manifest_store.write_segment",
                            _after_write_segment)
        self.patch_function(pruning, "prune_files", "pruning.prune", _after_prune_files)
        self.patch_method(manifest_store.LazyManifest, "pruned", "pruning.prune",
                          _after_lazy_pruned)

    # -- Spark job groups ------------------------------------------------
    def spark_stats(self, spark, group: str, prefixes: tuple[str, ...] = ("spark",)) -> dict:
        """Counters of the jobs tagged ``group``, read from the status
        store and added to ``counts`` under each of ``prefixes``."""
        sc = spark.sparkContext
        store = sc._jsc.sc().statusStore()
        out = defaultdict(float)
        for jid in sc.statusTracker().getJobIdsForGroup(group):
            try:
                job = store.job(jid)
            except Exception:  # evicted from the bounded store
                out["jobs_lost"] += 1
                continue
            out["jobs"] += 1
            sub, done = job.submissionTime(), job.completionTime()
            if sub.isDefined() and done.isDefined():
                iv = (sub.get().getTime() / 1000.0, done.get().getTime() / 1000.0)
                self.job_intervals.append(iv)
            ids = job.stageIds()
            for i in range(ids.size()):
                try:
                    st = store.lastStageAttempt(ids.apply(i))
                except Exception:
                    continue
                if st.status().toString() == "SKIPPED":
                    continue
                out["stages"] += 1
                out["tasks"] += st.numTasks()
                out["input_bytes"] += st.inputBytes()
                out["shuffle_bytes"] += st.shuffleReadBytes()
                out["cpu_s"] += st.executorCpuTime() / 1e9
                out["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
        for prefix in prefixes:
            for k, v in out.items():
                self.counts[f"{prefix}.{k}"] += v
        return out

    # -- reduction ------------------------------------------------------
    def totals(self) -> dict[str, float]:
        """Total time per span name (nested calls of one name once)."""
        out: dict[str, float] = defaultdict(float)
        names = [s[0] for s in self.spans]
        for i, (name, t0, t1, parent) in enumerate(self.spans):
            p = parent
            nested = False
            while p >= 0:
                if names[p] == name:
                    nested = True
                    break
                p = self.spans[p][3]
            if not nested:
                out[name] += t1 - t0
        return out

    def self_time(self, name: str) -> float:
        """Sum over spans ``name`` of duration minus the union of child
        spans and Spark job intervals inside it."""
        children: dict[int, list[tuple[float, float]]] = defaultdict(list)
        for _, t0, t1, parent in self.spans:
            if parent >= 0:
                children[parent].append((t0, t1))
        total = 0.0
        for i, (n, t0, t1, _) in enumerate(self.spans):
            if n != name:
                continue
            busy = [(max(a, t0), min(b, t1)) for a, b in children[i] + self.job_intervals
                    if b > t0 and a < t1]
            total += (t1 - t0) - _union(busy)
        return total

    def spark_exec_s(self) -> float:
        return _union(self.job_intervals)


def _union(ivs: list[tuple[float, float]]) -> float:
    total, end = 0.0, float("-inf")
    for a, b in sorted(ivs):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


# -- per-call counters -----------------------------------------------------

def _after_engine(tr: Tracer, args, kwargs, out) -> None:
    tr.count("engine.stmts")


def _after_snapshot_df(tr: Tracer, args, kwargs, out) -> None:
    manifest = args[2] if len(args) > 2 else kwargs.get("manifest")
    tr.count("reader.reads")
    tr.count("reader.delete_files_applied", len(getattr(manifest, "delete_files", ()) or ()))


def _after_write(tr: Tracer, args, kwargs, out) -> None:
    files = out or []
    tr.count("writer.files_written", len(files))
    tr.count("writer.bytes_written", sum(f.file_size_bytes for f in files))


def _after_commit(tr: Tracer, args, kwargs, out) -> None:
    io = args[0]
    tr.count("metadata.commits")
    tr.count("metadata.bytes_written", _size(io.metadata_file(out)))


def _after_write_manifest(tr: Tracer, args, kwargs, out) -> None:
    tr.count("metadata.bytes_written", _size(os.path.join(args[0].location, out)))


def _after_write_segment(tr: Tracer, args, kwargs, out) -> None:
    tr.count("manifest_store.segments_written")
    tr.count("metadata.bytes_written", _size(os.path.join(args[0], out.path)))


def _after_prune_files(tr: Tracer, args, kwargs, out) -> None:
    tr.count("pruning.files_considered", len(args[0]))
    tr.count("pruning.files_kept", len(out))


def _after_lazy_pruned(tr: Tracer, args, kwargs, out) -> None:
    tr.count("pruning.files_considered", args[0].counts()[0])
    tr.count("pruning.files_kept", len(out))


def _size(path: str) -> int:
    try:
        return os.path.getsize(path)
    except OSError:
        return 0
