"""``metadata_plane``: manifest planning and one-file commits at file-count scale.

A table's manifest holds ``N_ENTRIES`` synthetic data-file entries (no data
file exists or is opened), spread round-robin over 84 ``month(l_orderdate)``
partitions with per-file min/max stats inside the file's month.  One client
alternates a seeded one-month prune, ``t.prune(t.io.read_manifest(snap),
preds)``, with a one-file ``append_entries`` commit into a seeded month.
``CYCLES_PER_PASS`` prune+commit cycles make one pass.

``N_ENTRIES`` (10^5) is below the manifest-segment cache bound
(``manifest_store._SEG_CACHE_MAX_ROWS``, 4M rows), so segment reads after
the build are cache hits; the benchmark records the bound beside the count.

Correctness is known by construction: a prune of month m keeps exactly the
entries placed in m (partition pruning drops the other months, and every
file's stats stay inside its month), and after k commits the manifest holds
``N_ENTRIES + k`` entries.
"""

from __future__ import annotations

import os
import random
import time
from datetime import date, timedelta

import common

N_ENTRIES = 100_000
MONTHS = 84  # 1992-01 .. 1998-12
CYCLES_PER_PASS = 25
#: timed passes at least (a traced run alternates untraced and traced ones)
MIN_PASSES = 2
COLUMNS = [
    ("l_orderkey", "bigint"),
    ("l_orderdate", "date"),
    ("l_quantity", "double"),
    ("l_comment", "string"),
]


def _month_start(m: int) -> date:
    return date(1992 + m // 12, m % 12 + 1, 1)


def entry(i: int, m: int):
    """Synthetic entry ``i`` in month index ``m``."""
    from iceberg_trino_sql_demo_spark.sources.metadata import DataFile

    lo = _month_start(m) + timedelta(days=i % 7)
    hi = lo + timedelta(days=20)
    return DataFile(
        path=f"/synthetic/data/{i // 1000:05d}/f{i:08d}.parquet",
        spec_id=1,
        schema_id=1,
        partition={"l_orderdate_month": lo.year * 12 + lo.month - 1},
        record_count=100_000,
        file_size_bytes=100 * 1024 * 1024,
        stats={
            "1": {"min": i * 1000, "max": i * 1000 + 999, "nulls": 0},
            "2": {"min": lo.isoformat(), "max": hi.isoformat(), "nulls": 0},
            "3": {"min": 1.0, "max": 50.0, "nulls": 0},
        },
        first_row_id=i * 100_000,
        sequence_number=1,
        file_modified_ms=1_600_000_000_000 + i,
    )


def build(location: str):
    from iceberg_trino_sql_demo_spark.sources.table import Table

    t = Table.create(None, location, COLUMNS, partitioning=["month(l_orderdate)"])
    t.append_entries([entry(i, i % MONTHS) for i in range(N_ENTRIES)])
    return t


def run(ctx: common.Ctx, tracer) -> None:
    from iceberg_trino_sql_demo_spark.plans.pruning import Predicate
    from iceberg_trino_sql_demo_spark.sources import manifest_store

    t = common.repeat_setup(ctx, lambda i: build(os.path.join(ctx.work, f"table{i}")))
    ctx.conditions.update(entries=N_ENTRIES, months=MONTHS,
                          segment_cache_max_rows=manifest_store._SEG_CACHE_MAX_ROWS,
                          cycles_per_pass=CYCLES_PER_PASS)
    per_month = [N_ENTRIES // MONTHS + (1 if m < N_ENTRIES % MONTHS else 0) for m in range(MONTHS)]
    rng = random.Random(ctx.seed)
    n_next = N_ENTRIES

    def cycle() -> tuple[float, float]:
        nonlocal n_next
        m = rng.randrange(MONTHS)
        preds = [Predicate("l_orderdate", ">=", _month_start(m)),
                 Predicate("l_orderdate", "<", _month_start(m + 1))]
        t0 = time.perf_counter()
        snap = t.meta.snapshot_by_id(t.meta.current_snapshot_id())
        kept = t.prune(t.io.read_manifest(snap), preds)
        t_plan = time.perf_counter() - t0
        ctx.check(len(kept.data_files) == per_month[m], f"prune month {m}")
        m_new = rng.randrange(MONTHS)
        t0 = time.perf_counter()
        t.append_entries([entry(n_next, m_new)])
        t_commit = time.perf_counter() - t0
        n_next += 1
        per_month[m_new] += 1
        snap = t.meta.snapshot_by_id(t.meta.current_snapshot_id())
        ctx.check(t.io.read_manifest(snap).counts()[0] == n_next, "entry count after commit")
        return t_plan, t_commit

    for _ in range(CYCLES_PER_PASS):  # warm-up pass, checked
        cycle()
    ctx.mark_setup_done()

    cpu = common.CpuClock()
    plans: list[float] = []
    commits: list[float] = []
    passes: list[tuple[float, bool]] = []
    cpu_passes: list[float] = []
    t_end = time.perf_counter() + ctx.seconds
    while len(passes) < MIN_PASSES or time.perf_counter() < t_end:
        tracer.on = ctx.trace and len(passes) % 2 == 1
        total = 0.0
        c0 = cpu()
        for _ in range(CYCLES_PER_PASS):
            p, c = cycle()
            total += p + c
            if not tracer.on:
                plans.append(p)
                commits.append(c)
        passes.append((total, tracer.on))
        if not tracer.on:
            cpu_passes.append(cpu() - c0)
    tracer.on = False

    plain = [s for s, traced in passes if not traced]
    traced = [s for s, tr in passes if tr]
    ctx.put("stream_s", common.median(plain), "s")
    ctx.put("stream_cpu_s", common.median(cpu_passes), "s")
    ctx.put("passes", len(plain), "count")
    common.put_latency(ctx, "plan", plans)
    ctx.put("op_p50_s", common.median(plans), "s")
    common.put_latency(ctx, "commit", commits)
    if traced:
        ctx.traced_stream_s = common.median(traced)
        ctx.traced_units = len(traced)
