"""Repository benchmark: one command, four workloads, end-to-end and
per-layer metrics.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Workloads (BENCHMARK.json gates ``tpch_events`` and ``lakehouse_dml``; the
other two run by hand; see perfbench/METRICS.md):

- ``tpch_events``    registry statements over the relational, window and
                     join families (``wl_registry``)
- ``llm_pipeline``   registry statements over the dedup, similarity, text,
                     pipeline and multimodal families (``wl_registry``)
- ``lakehouse_dml``  Trino DML and reads through ``Engine.sql`` on a
                     merge-on-read table (``wl_lakehouse``)
- ``metadata_plane`` manifest planning and one-file commits through the
                     ``Table`` API on a 10^5-entry manifest (``wl_metadata``)

Inputs are generated from ``--seed`` inside the checkout's
``.perfbench_work`` directory, which the run removes when it ends.  With
``--trace 0`` the last stdout line carries the end-to-end metrics; with
``--trace 1`` it carries the per-layer metrics from traced passes, and
``trace.overhead_s``, the traced minus the untraced pass time.  The lines
before it record the run's conditions and every workload metric by name and
unit.  Exit code 0 only when the run completed; a failed or mismatching
operation still completes the run and is counted in ``failed``.
"""

from __future__ import annotations

import time

T_PROCESS = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import signal  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("tpch_events", "llm_pipeline", "lakehouse_dml", "metadata_plane")

#: end-to-end metrics of the result line, with units (trace 0); the detail
#: line carries the rest (see METRICS.md for why these four are gated)
END_TO_END = {
    "setup_s": "s",
    "stream_cpu_s": "s",
    "op_p50_s": "s",
    "peak_rss_mb": "MB",
}

#: per-layer metrics of the result line, with units (trace 1).  Times and
#: counts are per traced pass (registry), round (lakehouse) or cycle
#: (metadata plane); state counts are read at the end of the last round.
PER_LAYER = {
    "session.start_s": "s",
    "operators.build_s": "s",
    "operators.build_jobs": "count",
    "operators.drain_s": "s",
    "spark.exec_s": "s",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.input_bytes": "bytes",
    "spark.shuffle_bytes": "bytes",
    "spark.cpu_s": "s",
    "spark.spill_bytes": "bytes",
    "engine.self_s": "s",
    "engine.stmts": "count",
    "table.insert_s": "s",
    "table.delete_s": "s",
    "table.update_s": "s",
    "table.merge_s": "s",
    "table.df_s": "s",
    "table.optimize_s": "s",
    "table.expire_snapshots_s": "s",
    "table.data_files": "count",
    "table.delete_files": "count",
    "table.snapshots": "count",
    "reader.snapshot_df_s": "s",
    "reader.delete_files_applied": "count",
    "writer.write_s": "s",
    "writer.files_written": "count",
    "writer.bytes_written": "bytes",
    "writer.write_amp": "ratio",
    "metadata.commit_s": "s",
    "metadata.commits": "count",
    "metadata.read_manifest_s": "s",
    "metadata.bytes_written": "bytes",
    "manifest_store.read_segment_calls": "count",
    "manifest_store.segment_hit_ratio": "ratio",
    "manifest_store.segments_written": "count",
    "pruning.prune_s": "s",
    "pruning.files_considered": "count",
    "pruning.keep_ratio": "ratio",
    "trace.overhead_s": "s",
}


def _layers(ctx, tracer) -> dict[str, float]:
    """Reduce the tracer's spans and counts to the per-layer metrics."""
    n = max(1, ctx.traced_units)
    tot = tracer.totals()
    c = tracer.counts
    out = {k: 0.0 for k in PER_LAYER}
    out["session.start_s"] = ctx.session_start_s
    span_map = {
        "operators.build_s": "operators.build",
        "table.insert_s": "table.insert",
        "table.delete_s": "table.delete",
        "table.update_s": "table.update",
        "table.merge_s": "table.merge",
        "table.df_s": "table.df",
        "table.optimize_s": "table.optimize",
        "table.expire_snapshots_s": "table.expire_snapshots",
        "reader.snapshot_df_s": "reader.snapshot_df",
        "writer.write_s": "writer.write",
        "metadata.commit_s": "metadata.commit",
        "metadata.read_manifest_s": "metadata.read_manifest",
        "pruning.prune_s": "pruning.prune",
    }
    for metric, span in span_map.items():
        out[metric] = tot.get(span, 0.0) / n
    count_map = {
        "operators.build_jobs": "operators.build.jobs",
        "operators.drain_s": "operators.drain_s",
        "engine.stmts": "engine.stmts",
        "writer.files_written": "writer.files_written",
        "writer.bytes_written": "writer.bytes_written",
        "metadata.commits": "metadata.commits",
        "metadata.bytes_written": "metadata.bytes_written",
        "manifest_store.read_segment_calls": "manifest_store.read_segment_calls",
        "manifest_store.segments_written": "manifest_store.segments_written",
        "pruning.files_considered": "pruning.files_considered",
    }
    for metric, key in count_map.items():
        out[metric] = c.get(key, 0.0) / n
    for k in ("jobs", "stages", "tasks", "input_bytes", "shuffle_bytes", "cpu_s", "spill_bytes"):
        out[f"spark.{k}"] = c.get(f"spark.{k}", 0.0) / n
    out["spark.exec_s"] = tracer.spark_exec_s() / n
    out["engine.self_s"] = tracer.self_time("engine.sql") / n
    reads = c.get("reader.reads", 0.0)
    out["reader.delete_files_applied"] = c.get("reader.delete_files_applied", 0.0) / reads if reads else 0.0
    calls = c.get("manifest_store.read_segment_calls", 0.0)
    out["manifest_store.segment_hit_ratio"] = c.get("manifest_store.segment_hits", 0.0) / calls if calls else 0.0
    considered = c.get("pruning.files_considered", 0.0)
    out["pruning.keep_ratio"] = c.get("pruning.files_kept", 0.0) / considered if considered else 0.0
    if ctx.changed_bytes:
        out["writer.write_amp"] = c.get("writer.bytes_written", 0.0) / ctx.changed_bytes
    for k in ("table.data_files", "table.delete_files", "table.snapshots"):
        out[k] = float(ctx.state.get(k, 0))
    if ctx.traced_stream_s is not None:
        out["trace.overhead_s"] = ctx.traced_stream_s - ctx.detail["stream_s"][0]
    return out


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "iceberg_trino_sql_demo_spark", "__init__.py")):
        print(f"perfbench: package iceberg_trino_sql_demo_spark not found under {ROOT}",
              file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    import common
    from tracing import Tracer

    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    ctx = common.Ctx(args.workload, args.seed, args.seconds, bool(args.trace), ROOT, work,
                     T_PROCESS)
    common.prepare_env(ctx)
    common.adopt_orphans()
    # a terminated run still stops its processes (the finally below)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    tracer = Tracer()
    try:
        if ctx.trace:
            import iceberg_trino_sql_demo_spark.engine  # noqa: F401  (load layers to wrap)

            tracer.install()
        if args.workload in ("tpch_events", "llm_pipeline"):
            import wl_registry as wl
        elif args.workload == "lakehouse_dml":
            import wl_lakehouse as wl
        else:
            import wl_metadata as wl
        wl.run(ctx, tracer)
        ctx.put("setup_s", ctx.setup_s(), "s")
        ctx.put("peak_rss_mb", common.peak_rss_mb(ctx.spark), "MB")
        ctx.put("failed_frac", ctx.failed / max(1, ctx.attempted), "ratio")
        if ctx.trace:
            ctx.conditions["calibration"] = common.calibration(ctx.spark)
    finally:
        tracer.on = False
        tracer.uninstall()
        # a second SIGTERM must not cut the stop short
        signal.signal(signal.SIGTERM, signal.SIG_IGN)
        try:
            common.stop_processes(ctx.spark)
        finally:
            common.cleanup(ctx)
            signal.signal(signal.SIGTERM, signal.SIG_DFL)

    print(json.dumps({"workload": args.workload, "conditions": ctx.conditions}, default=str))
    print(json.dumps({"workload": args.workload, "errors": ctx.errors[:20],
                      "metrics": {k: {"value": v, "unit": u} for k, (v, u) in ctx.detail.items()}}))
    if ctx.trace:
        vals = _layers(ctx, tracer)
        metrics = {k: {"value": vals[k], "unit": u} for k, u in PER_LAYER.items()}
    else:
        metrics = {k: {"value": ctx.detail[k][0], "unit": u} for k, u in END_TO_END.items()}
    print(json.dumps({"correct": ctx.failed == 0, "attempted": ctx.attempted,
                      "failed": ctx.failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
