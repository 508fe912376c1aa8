"""``tpch_events`` and ``llm_pipeline``: registry statements in a closed loop.

One client runs a fixed slice of the registry families as a seeded stream:
every pass runs each statement of the slice once, in an order drawn from the
seed.  A statement is built from the registry (``operators.QUERIES``) and
executed with a noop write.  ``operators.release_caches()`` drains
operator-held data between statements, outside the timed region.

The slice is every ``STRIDE``-th bench query of the families, by name.  A
run, set-up included, has well under a minute, and the JVM needs two passes
to warm up, so the slice keeps a pass to a few seconds.

Set-up runs each statement once, collected, and compares the result with
its DuckDB oracle (``operators.ORACLE``), order-insensitively; then
``WARM_PASSES`` untimed passes finish the JIT warm-up.  The timed region runs
passes until the requested seconds have elapsed.
"""

from __future__ import annotations

import os
import random
import time

import common
import datagen
import oracle

FAMILIES = {
    "tpch_events": ("relational", "windows_ops", "joins_ops"),
    "llm_pipeline": ("dedup", "similarity", "text", "pipeline", "multimodal"),
}
STRIDE = 10
SF = 0.01
#: untimed passes after the checked one: JIT warm-up lasts about two passes
#: (measured 10.4, 8.5, then 6.2-7.1 s per pass of a 10-query slice; with one
#: warm pass the run-to-run spread of the statement p50 doubled)
WARM_PASSES = 2
#: timed passes at least, whatever --seconds says (a traced run alternates
#: untraced and traced passes, so it needs both kinds)
MIN_PASSES = 4


def bench_slice(ops, families: tuple[str, ...]) -> list[str]:
    names = sorted(
        n for n, fn in ops.QUERIES.items()
        if n not in ops.NO_BENCH and fn.__module__.rsplit(".", 1)[-1] in families
    )
    return names[::STRIDE]


def run(ctx: common.Ctx, tracer) -> None:
    from iceberg_trino_sql_demo_spark import operators as ops
    from iceberg_trino_sql_demo_spark.session import TESTDATA_TABLES

    sf_dir = os.path.join(ctx.work, "data")
    rows = common.repeat_setup(ctx, lambda _: datagen.write(sf_dir, ctx.seed, SF))
    ops.load_all()
    spark = ctx.spark = common.start_spark(ctx)
    names = bench_slice(ops, FAMILIES[ctx.workload])
    ctx.conditions.update(sf=SF, rows=rows, statements=names, stride=STRIDE)

    duck = oracle.Duck(sf_dir, TESTDATA_TABLES)
    for name in list(names):
        ops.release_caches()
        try:
            got = ops.QUERIES[name](spark, sf_dir).toPandas()
        except Exception as exc:  # a failing statement is counted, not fatal
            ctx.check(False, f"{name}: {type(exc).__name__}: {str(exc)[:200]}")
            names.remove(name)
            continue
        ctx.check(oracle.same(got, duck.df(ops.ORACLE[name])), name)
    duck.close()
    ops.release_caches()
    rng = random.Random(ctx.seed)
    order = list(names)
    for _ in range(WARM_PASSES):
        rng.shuffle(order)
        for name in order:
            ops.QUERIES[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
            ops.release_caches()
    ctx.mark_setup_done()

    sc = spark.sparkContext
    cpu = common.CpuClock(spark)
    lat: list[float] = []
    cpu_lat: list[float] = []
    passes: list[tuple[dict[str, float], bool]] = []
    cpu_passes: list[dict[str, float]] = []
    t_end = time.perf_counter() + ctx.seconds
    gid = 0
    while len(passes) < MIN_PASSES or time.perf_counter() < t_end:
        rng.shuffle(order)
        tracer.on = ctx.trace and len(passes) % 2 == 1
        t_pass: dict[str, float] = {}
        c_pass: dict[str, float] = {}
        for name in order:
            gid += 1
            c0 = cpu()
            t0 = time.perf_counter()
            sc.setJobGroup(f"b{gid}", name)
            df = tracer.span("operators.build", ops.QUERIES[name], spark, sf_dir)
            sc.setJobGroup(f"x{gid}", name)
            df.write.format("noop").mode("overwrite").save()
            dt = time.perf_counter() - t0
            c_pass[name] = cpu() - c0
            if tracer.on:
                tracer.spark_stats(spark, f"b{gid}", ("spark", "operators.build"))
                tracer.spark_stats(spark, f"x{gid}")
            t0 = time.perf_counter()
            ops.release_caches()
            if tracer.on:
                tracer.count("operators.drain_s", time.perf_counter() - t0)
            if not tracer.on:
                lat.append(dt)
                cpu_lat.append(c_pass[name])
            t_pass[name] = dt
        passes.append((t_pass, tracer.on))
        cpu_passes.append(c_pass)
    tracer.on = False
    sc.setJobGroup("idle", "idle")

    plain = [[p[n] for n in names] for p, traced in passes if not traced]
    traced = [[p[n] for n in names] for p, t in passes if t]
    ctx.put("stream_s", common.sum_of_medians(plain), "s")
    ctx.put("stream_cpu_s", common.sum_of_medians(
        [[c[n] for n in names] for c, (_, t) in zip(cpu_passes, passes) if not t]), "s")
    ctx.put("stmt_cpu_p50_s", common.median(cpu_lat), "s")
    ctx.put("op_p50_s", common.median(lat), "s")
    ctx.put("passes", len(plain), "count")
    common.put_latency(ctx, "stmt", lat)
    if traced:
        ctx.traced_stream_s = common.sum_of_medians(traced)
        ctx.traced_units = len(traced)
