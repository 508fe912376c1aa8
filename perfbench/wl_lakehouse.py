"""``lakehouse_dml``: Trino DML beside reads on one merge-on-read table.

One client sends Trino statements through ``Engine.sql`` to ``lh_orders``,
a CTAS of ``orders`` partitioned by ``year(o_orderdate)``.  Each round runs
``INSERT ... SELECT``, ``DELETE``, ``UPDATE`` and ``MERGE INTO``, then four
reads: an aggregate, a two-month date range the manifest pruner narrows to
one partition, ``FOR VERSION AS OF`` the snapshot the round started from, and
``"lh_orders$snapshots"``.  Every ``MAINT_EVERY`` rounds,
``ALTER TABLE ... EXECUTE optimize`` and ``expire_snapshots`` run.  The seed
draws every statement's keys and values.

DuckDB mirrors each round's DML (``MERGE`` as ``UPDATE`` plus an anti-join
``INSERT``: DuckDB 1.0 has no ``MERGE``).  Outside the timed region, every
read's result is compared with the mirror: the aggregate carries the row
count and two checksums, so it verifies the round's DML; the time-travel
read is compared with the state recorded when the round started.
"""

from __future__ import annotations

import os
import random
import time

import pandas as pd

import common
import datagen
import oracle

#: orders at sf0.001 (1,500 rows): statement cost is the engine's per-statement
#: floor either way (measured rounds: 6 s here, 9-10 s at sf0.01), and the
#: smaller table fits four timed rounds in a run
SF = 0.001
TABLE = "lh_orders"
MAINT_EVERY = 3
#: warm-up and timed rounds both come in whole maintenance cycles: a round
#: right after maintenance reads fewer delete files and costs less, so a
#: partial cycle weights the phases differently from run to run.  One cycle
#: of warm-up: in a 24-round run (4 vCPUs) the first two rounds after a
#: single warm-up round still cost 7.8 and 7.2 s of wall time against a
#: steady 4.6-6.6 s, and 11.9 and 11.2 CPU seconds against 9.0-11.7
WARM_ROUNDS = MAINT_EVERY
#: timed rounds at least, whatever --seconds says
MIN_ROUNDS = MAINT_EVERY
#: commits per round (INSERT, DELETE, UPDATE, MERGE), timed before its reads
N_DML = 4
_COLS = "o_orderkey, o_custkey, o_orderdate, o_totalprice, o_orderpriority"
_SRC = ("SELECT o_orderkey{off}, o_custkey, CAST(o_orderdate AS DATE) AS o_orderdate, "
        "o_totalprice, o_orderpriority FROM orders")
_AGG = (f"SELECT o_orderpriority, count(*) AS n, sum(o_totalprice) AS s, "
        f"sum(o_orderkey) AS k FROM {TABLE} GROUP BY o_orderpriority")


def _du(path: str) -> int:
    total = 0
    for d, _, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(d, f))
            except OSError:
                pass
    return total


class Lakehouse:
    def __init__(self, ctx: common.Ctx, tracer, spark, sf_dir: str):
        from iceberg_trino_sql_demo_spark.engine import Engine
        from iceberg_trino_sql_demo_spark.session import TESTDATA_TABLES, register_views

        self.ctx, self.tracer, self.spark = ctx, tracer, spark
        register_views(spark, sf_dir)
        self.eng = Engine(spark, os.path.join(ctx.work, "warehouse"))
        self.eng.sql("CREATE SCHEMA bench")
        self.eng.sql("USE bench")
        self.duck = oracle.Duck(sf_dir, TESTDATA_TABLES)
        self.rng = random.Random(ctx.seed)
        self.round = 0
        self.gid = 0
        self.commits: list[float] = []
        self.reads: list[float] = []
        self.maint: list[float] = []
        self.round_s: list[tuple[list[float], bool]] = []
        self.round_cpu: list[list[float]] = []
        self.commit_cpu: list[float] = []
        self.cpu = common.CpuClock(spark)
        self.changed_rows = 0

    # -- plumbing -------------------------------------------------------
    def _timed(self, stmt: str, collect: bool):
        """(rows or None, wall seconds); the op's CPU seconds go to
        ``last_cpu``."""
        sc = self.spark.sparkContext
        self.gid += 1
        sc.setJobGroup(f"lh{self.gid}", stmt[:60])
        c0 = self.cpu()
        t0 = time.perf_counter()
        try:
            out = self.eng.sql(stmt)
            rows = out.toPandas() if collect else None
        except Exception as exc:  # a failing statement is counted, not fatal
            self.ctx.check(False, f"{stmt[:60]}: {type(exc).__name__}: {str(exc)[:200]}")
            rows = None
        dt = time.perf_counter() - t0
        self.last_cpu = self.cpu() - c0
        if self.tracer.on:
            self.tracer.spark_stats(self.spark, f"lh{self.gid}")
        return rows, dt

    def _mirror(self, sql: str) -> int:
        """Run DML on the DuckDB mirror; returns the rows it changed."""
        return int(self.duck.con.execute(sql).fetchone()[0])

    def _table(self):
        return self.eng.catalog.table(TABLE)

    def _state(self):
        return self.duck.df("SELECT count(*) AS n, sum(o_totalprice) AS s FROM lh")

    # -- set-up ---------------------------------------------------------
    def create(self) -> None:
        self.eng.sql(
            f"CREATE TABLE {TABLE} WITH (partitioning = ARRAY['year(o_orderdate)'], "
            f"merge_mode = 'merge-on-read') AS " + _SRC.format(off=""))
        self.duck.con.execute("DROP TABLE IF EXISTS lh")
        self.duck.con.execute("CREATE TABLE lh AS " + _SRC.format(off=""))
        t = self._table()
        self.row_bytes = _du(os.path.join(t.location, "data")) / max(
            1, self._mirror("SELECT count(*) FROM lh"))

    # -- one round ------------------------------------------------------
    def run_round(self, timed: bool) -> None:
        r, rng = self.round, self.rng
        self.round += 1
        start_sid = self._table().meta.current_snapshot_id()
        start_state = self._state()
        commits: list[float] = []
        reads: list[float] = []
        cpu: list[float] = []

        off = (r + 1) * 100_000_000
        a, b, c, d = rng.randrange(50), rng.randrange(97), rng.randrange(89), rng.randrange(1, 100)
        dml = [
            (f"INSERT INTO {TABLE} " + _SRC.format(off=f" + {off}") + f" WHERE o_orderkey % 50 = {a}",
             "INSERT INTO lh " + _SRC.format(off=f" + {off}") + f" WHERE o_orderkey % 50 = {a}"),
            (f"DELETE FROM {TABLE} WHERE o_custkey % 97 = {b}",
             f"DELETE FROM lh WHERE o_custkey % 97 = {b}"),
            (f"UPDATE {TABLE} SET o_totalprice = o_totalprice + {d} WHERE o_custkey % 89 = {c}",
             f"UPDATE lh SET o_totalprice = o_totalprice + {d} WHERE o_custkey % 89 = {c}"),
        ]
        for stmt, mirror in dml:
            _, dt = self._timed(stmt, collect=False)
            commits.append(dt)
            cpu.append(self.last_cpu)
            n = self._mirror(mirror)
            if self.tracer.on:
                self.changed_rows += n

        src = self._merge_source(r, off + 50_000_000)
        _, dt = self._timed(
            f"MERGE INTO {TABLE} AS t USING {src} AS s ON t.o_orderkey = s.o_orderkey "
            "WHEN MATCHED THEN UPDATE SET o_totalprice = s.o_totalprice "
            f"WHEN NOT MATCHED THEN INSERT ({_COLS}) VALUES (s.o_orderkey, s.o_custkey, "
            "s.o_orderdate, s.o_totalprice, s.o_orderpriority)", collect=False)
        commits.append(dt)
        cpu.append(self.last_cpu)
        n_upd = self._mirror(
            "UPDATE lh SET o_totalprice = s.o_totalprice FROM merge_src s "
            "WHERE lh.o_orderkey = s.o_orderkey")
        n_ins = self._mirror(
            "INSERT INTO lh SELECT * FROM merge_src WHERE o_orderkey NOT IN (SELECT o_orderkey FROM lh)")
        if self.tracer.on:
            self.changed_rows += n_upd + n_ins

        y = rng.randrange(1995, 2001)
        m = rng.randrange(1, 11)
        rng_where = (f"o_orderdate >= DATE '{y}-{m:02d}-01' AND "
                     f"o_orderdate < DATE '{y}-{m + 2:02d}-01'")
        checks = [
            (_AGG, _AGG.replace(TABLE, "lh"), None),
            (f"SELECT count(*) AS n, sum(o_totalprice) AS s FROM {TABLE} WHERE {rng_where}",
             f"SELECT count(*) AS n, sum(o_totalprice) AS s FROM lh WHERE {rng_where}", None),
            (f"SELECT count(*) AS n, sum(o_totalprice) AS s FROM {TABLE} "
             f"FOR VERSION AS OF {start_sid}", None, start_state),
            (f'SELECT snapshot_id FROM "{TABLE}$snapshots"', None, None),
        ]
        for stmt, mirror_sql, want in checks:
            got, dt = self._timed(stmt, collect=True)
            reads.append(dt)
            cpu.append(self.last_cpu)
            if got is None:
                continue
            if mirror_sql is not None:
                want = self.duck.df(mirror_sql)
            if want is not None:
                self.ctx.check(oracle.same(got, want), f"round {r}: {stmt[:60]}")
            else:
                ids = set(int(x) for x in got["snapshot_id"])
                cur = self._table().meta.current_snapshot_id()
                self.ctx.check({start_sid, cur} <= ids, f"round {r}: $snapshots")
        if r % MAINT_EVERY == MAINT_EVERY - 1:
            t_m = 0.0
            for stmt in (f"ALTER TABLE {TABLE} EXECUTE optimize",
                         f"ALTER TABLE {TABLE} EXECUTE expire_snapshots(retention_threshold => '0s')"):
                _, dt = self._timed(stmt, collect=False)
                t_m += dt
            if timed and not self.tracer.on:
                self.maint.append(t_m)
        if timed:
            if not self.tracer.on:
                self.commits += commits
                self.reads += reads
                self.commit_cpu += cpu[:len(commits)]
                self.round_cpu.append(cpu)
            self.round_s.append((commits + reads, self.tracer.on))
        if self.tracer.on:
            self._record_state()

    def _merge_source(self, r: int, new_base: int) -> str:
        keys = [int(k) for k, in self.duck.con.execute(
            "SELECT o_orderkey FROM lh ORDER BY o_orderkey").fetchall()]
        rng = self.rng
        hit = rng.sample(keys, min(50, len(keys)))
        rows = []
        for k in hit + [new_base + i for i in range(50)]:
            day = rng.randrange(0, 2400)
            rows.append((k, rng.randrange(1500), day, round(rng.uniform(1000, 500000), 2),
                         datagen.PRIORITIES[rng.randrange(5)]))
        pdf = pd.DataFrame(rows, columns=["o_orderkey", "o_custkey", "day", "o_totalprice",
                                          "o_orderpriority"])
        pdf["o_orderdate"] = (pd.Timestamp("1995-01-01") + pd.to_timedelta(pdf.pop("day"), "D")).dt.date
        pdf = pdf[["o_orderkey", "o_custkey", "o_orderdate", "o_totalprice", "o_orderpriority"]]
        name = f"merge_src_{r}"
        self.spark.createDataFrame(
            pdf, "o_orderkey bigint, o_custkey bigint, o_orderdate date, "
                 "o_totalprice double, o_orderpriority string").createOrReplaceTempView(name)
        self.duck.con.execute("DROP TABLE IF EXISTS merge_src")
        self.duck.con.register("merge_src_df", pdf)
        self.duck.con.execute(
            "CREATE TABLE merge_src AS SELECT o_orderkey, o_custkey, "
            "CAST(o_orderdate AS DATE) AS o_orderdate, o_totalprice, o_orderpriority FROM merge_src_df")
        self.duck.con.unregister("merge_src_df")
        return name

    def _record_state(self) -> None:
        t = self._table()
        snap = t.meta.snapshot_by_id(t.meta.current_snapshot_id())
        man = t.io.read_manifest(snap)
        n_data = man.counts()[0] if hasattr(man, "counts") else len(man.data_files)
        self.ctx.state.update({
            "table.data_files": n_data,
            "table.delete_files": len(man.delete_files),
            "table.snapshots": len(t.meta.snapshots),
        })

    def space_amp(self) -> float:
        live = self._table()
        self.eng.sql(
            f"CREATE TABLE lh_fresh WITH (partitioning = ARRAY['year(o_orderdate)']) "
            f"AS SELECT * FROM {TABLE}")
        fresh = self.eng.catalog.table("lh_fresh")
        return _du(live.location) / max(1, _du(fresh.location))


def run(ctx: common.Ctx, tracer) -> None:
    sf_dir = os.path.join(ctx.work, "data")
    rows = common.repeat_setup(ctx, lambda _: datagen.write(sf_dir, ctx.seed, SF))
    spark = ctx.spark = common.start_spark(ctx)
    ctx.conditions.update(sf=SF, rows=rows, table=TABLE, merge_mode="merge-on-read",
                          partitioning="year(o_orderdate)", maintenance_every=MAINT_EVERY)
    lh = Lakehouse(ctx, tracer, spark, sf_dir)
    lh.create()
    for _ in range(WARM_ROUNDS):  # checked like every round
        lh.run_round(timed=False)
    ctx.mark_setup_done()

    t_end = time.perf_counter() + ctx.seconds
    while (len(lh.round_s) < MIN_ROUNDS or time.perf_counter() < t_end
           or len(lh.round_s) % MAINT_EVERY):
        # trace the round that ends its cycle, so maintenance is traced too
        tracer.on = ctx.trace and len(lh.round_s) % MAINT_EVERY == MAINT_EVERY - 1
        lh.run_round(timed=True)
    tracer.on = False
    spark.sparkContext.setJobGroup("idle", "idle")

    plain = [s for s, traced in lh.round_s if not traced]
    traced = [s for s, t in lh.round_s if t]
    ctx.put("stream_s", common.sum_of_medians(plain), "s")
    ctx.put("stream_cpu_s", common.sum_of_medians(lh.round_cpu), "s")
    ctx.put("commit_cpu_p50_s", common.median(lh.commit_cpu), "s")
    # per DML kind, then the mean: one median over all commits falls between
    # the cheap (INSERT, DELETE) and the dear (UPDATE, MERGE) kinds and
    # jumps between them from run to run
    ctx.put("op_p50_s", common.sum_of_medians([s[:N_DML] for s in plain]) / N_DML, "s")
    ctx.put("rounds", len(plain), "count")
    common.put_latency(ctx, "commit", lh.commits)
    common.put_latency(ctx, "read", lh.reads)
    if lh.maint:
        ctx.put("maint_s", common.median(lh.maint), "s")
    ctx.put("space_amp", lh.space_amp(), "ratio")
    if traced:
        ctx.traced_stream_s = common.sum_of_medians(traced)
        ctx.traced_units = len(traced)
        ctx.changed_bytes = lh.changed_rows * lh.row_bytes
