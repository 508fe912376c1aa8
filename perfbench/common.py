"""Shared plumbing: the run context, process environment, Spark session,
latency statistics, memory and host-calibration probes."""

from __future__ import annotations

import os
import resource
import shutil
import statistics
import sys
import time
from dataclasses import dataclass, field

#: executor cores: local[CORES]; shuffle partitions follow the core count
CORES = len(os.sched_getaffinity(0))
#: driver heap; pre-touched at start (see prepare_env), so peak_rss_mb
#: moves with off-heap JVM memory and Python memory, not with GC timing
DRIVER_MEM = "1g"
SHUFFLE_PARTITIONS = str(CORES)
#: AQE off, the same profile bench.py measures with
ADAPTIVE = "false"
#: a fixed set of JIT compiler threads: CpuClock leaves their CPU out, and a
#: compiler thread that exited would take its share out of that sum
JIT_OPTS = "-XX:-UseDynamicNumberOfCompilerThreads"


@dataclass
class Ctx:
    """One benchmark process: arguments, paths and collected results."""

    workload: str
    seed: int
    seconds: float
    trace: bool
    root: str
    work: str
    t_process: float
    conditions: dict = field(default_factory=dict)
    #: every metric this workload measured: name -> (value, unit)
    detail: dict = field(default_factory=dict)
    session_start_s: float = 0.0
    attempted: int = 0
    failed: int = 0
    errors: list = field(default_factory=list)
    spark: object = None
    #: traced passes (rounds, cycles) the per-layer sums are divided by
    traced_units: int = 0
    traced_stream_s: float | None = None
    #: bytes of the rows the traced DML changed (write amplification base)
    changed_bytes: float = 0.0
    #: table state counts read at the end of the last round
    state: dict = field(default_factory=dict)
    #: samples of the set-up step repeated in every run (fixture build)
    setup_repeat: list = field(default_factory=list)
    t_setup_done: float = 0.0

    def mark_setup_done(self) -> None:
        self.t_setup_done = time.perf_counter()

    def setup_s(self) -> float:
        """Process start to first timed op, with the repeated fixture step
        counted once at its median."""
        total = self.t_setup_done - self.t_process
        if self.setup_repeat:
            total += median(self.setup_repeat) - sum(self.setup_repeat)
        return total

    def check(self, ok: bool, what: str) -> bool:
        """Count one verified operation; a mismatch counts as failed."""
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.errors.append(what)
        return ok

    def put(self, name: str, value: float, unit: str) -> None:
        self.detail[name] = (value, unit)


def prepare_env(ctx: Ctx) -> None:
    """Point every temporary path at the run's work directory and let Python
    UDF workers import the package from any working directory."""
    tmp = os.path.join(ctx.work, "tmp")
    local = os.path.join(ctx.work, "spark-local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    # UDF workers are forked by the JVM and import the package by name
    path = os.environ.get("PYTHONPATH", "")
    os.environ["PYTHONPATH"] = ctx.root + (os.pathsep + path if path else "")
    os.environ["SPARK_GRAFT_CPUS"] = str(CORES)
    os.environ["SPARK_GRAFT_SHUFFLE_PARTITIONS"] = SHUFFLE_PARTITIONS
    os.environ["SPARK_GRAFT_ADAPTIVE"] = ADAPTIVE
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    # few glibc malloc arenas in the JVM: its native resident set otherwise
    # depends on how many threads happened to allocate concurrently
    os.environ["MALLOC_ARENA_MAX"] = "2"
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        # -XX:-UsePerfData: no hsperfdata file under the system /tmp.  The
        # heap is committed and touched up front (-Xms = -Xmx, pre-touch), so
        # the JVM's resident peak is not an artefact of when GC ran
        f"--driver-java-options '-Djava.io.tmpdir={tmp} -XX:-UsePerfData "
        f"-Xms{DRIVER_MEM} -XX:+AlwaysPreTouch {JIT_OPTS}' "
        "--conf spark.ui.showConsoleProgress=false "
        f"--conf spark.sql.warehouse.dir={os.path.join(ctx.work, 'warehouse')} "
        "pyspark-shell"
    )
    import tempfile

    tempfile.tempdir = tmp
    ctx.conditions.update(
        cores=CORES,
        shuffle_partitions=int(SHUFFLE_PARTITIONS),
        adaptive=ADAPTIVE == "true",
        driver_memory=DRIVER_MEM,
        seed=ctx.seed,
        seconds=ctx.seconds,
        trace=ctx.trace,
        flush_policy="commits publish with os.link, no fsync",
        cpu_clock="python + driver JVM + UDF workers, less JIT compiler threads",
        jvm_opts=JIT_OPTS,
        python=sys.version.split()[0],
    )


def repeat_setup(ctx: Ctx, step, times: int = 3):
    """Run set-up ``step(i)`` ``times`` times; ``setup_s`` counts it once, at
    its median.  Returns the last result."""
    for i in range(times):
        t0 = time.perf_counter()
        out = step(i)
        ctx.setup_repeat.append(time.perf_counter() - t0)
    return out


def start_spark(ctx: Ctx):
    from iceberg_trino_sql_demo_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark(f"perfbench-{ctx.workload}")
    ctx.session_start_s = time.perf_counter() - t0
    return spark


def descendants(root: int) -> list[int]:
    """Pids of every process below ``root``."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            try:
                children.setdefault(int(CpuClock._stat(int(name))[1]), []).append(int(name))
            except OSError:
                continue  # exited while listing
    out, todo = [], list(children.get(root, []))
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo += children.get(pid, [])
    return out


def _alive(pid: int) -> bool:
    """True while ``pid`` runs; a zombie has ended."""
    try:
        return CpuClock._stat(pid)[0] != "Z"
    except OSError:
        return False


def _wait_gone(pids: list[int], timeout: float) -> list[int]:
    t_end = time.monotonic() + timeout
    while True:
        for pid in pids:
            try:
                os.waitpid(pid, os.WNOHANG)  # reap our own children
            except ChildProcessError:
                pass
        left = [p for p in pids if _alive(p)]
        if not left or time.monotonic() > t_end:
            return left
        time.sleep(0.05)


def adopt_orphans() -> None:
    """Make this process the child subreaper of everything it starts: a
    process orphaned below it (the shell spark-submit leaves behind when the
    JVM exits) is re-parented here, where ``stop_processes`` reaps it."""
    import ctypes

    PR_SET_CHILD_SUBREAPER = 36
    ctypes.CDLL(None, use_errno=True).prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0)


def _reap_all() -> None:
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid == 0:
            return


def stop_processes(spark=None) -> None:
    """Stop the Spark session, its driver JVM and every process the run
    started (pandas-UDF workers included), and wait until each has ended.

    The JVM exits on its own only once the Python process has gone and its
    stdin pipe closes, so without this it outlives the run.  Descendants are
    also listed before the JVM stops: its children are re-parented once it
    exits, away from this process unless ``adopt_orphans`` ran."""
    import signal

    pids = descendants(os.getpid())
    if spark is not None:
        try:
            spark.stop()
        except Exception as exc:  # a call cut short by a signal; the JVM goes below
            print(f"perfbench: spark.stop: {type(exc).__name__}: {exc}", file=sys.stderr)
    pyspark = sys.modules.get("pyspark")
    gateway = pyspark.SparkContext._gateway if pyspark is not None else None
    if gateway is not None:
        # the next session in this process (selftest) starts a new JVM
        pyspark.SparkContext._gateway = pyspark.SparkContext._jvm = None
        try:
            gateway.shutdown()
        except Exception:
            pass
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            try:
                proc.stdin.close()  # the JVM exits on EOF of its stdin
            except Exception:
                pass
            try:
                proc.wait(timeout=30)
            except Exception:
                proc.kill()
                proc.wait()
    pids += [p for p in descendants(os.getpid()) if p not in pids]
    for sig, timeout in ((None, 20.0), (signal.SIGTERM, 10.0), (signal.SIGKILL, 10.0)):
        if sig is not None:
            for pid in pids:
                try:
                    os.kill(pid, sig)
                except OSError:
                    pass
        pids = _wait_gone(pids, timeout)
        if not pids:
            break
    _reap_all()


def cleanup(ctx: Ctx) -> None:
    shutil.rmtree(ctx.work, ignore_errors=True)
    try:
        os.rmdir(os.path.dirname(ctx.work))  # only when no other run uses it
    except OSError:
        pass


# -- statistics ----------------------------------------------------------

def median(xs: list[float]) -> float:
    return statistics.median(xs)


def tail(xs: list[float]) -> tuple[float, int]:
    """(value, percentile): the highest whole percentile that still has at
    least ten samples above it, by nearest rank.  With 20 samples or fewer
    no such percentile lies above the median; the median is then reported
    with percentile 50."""
    s = sorted(xs)
    n = len(s)
    if n <= 20:
        return median(s), 50
    p = int(100 * (n - 10) / n)
    rank = max(1, -(-p * n // 100))  # ceil(p/100 * n)
    return s[rank - 1], p


def sum_of_medians(rows: list[list[float]]) -> float:
    """Sum over op positions of each position's median across passes: one
    slow pass moves it less than it moves the median pass total."""
    return sum(median(col) for col in zip(*rows))


def put_latency(ctx: Ctx, prefix: str, xs: list[float]) -> None:
    """``<prefix>_p50_s`` and ``<prefix>_tail_s`` with percentile and count."""
    if not xs:
        return
    v, p = tail(xs)
    ctx.put(f"{prefix}_p50_s", median(xs), "s")
    ctx.put(f"{prefix}_tail_s", v, "s")
    ctx.put(f"{prefix}_tail_pct", p, "percentile")
    ctx.put(f"{prefix}_n", len(xs), "count")


def peak_rss_mb(spark=None) -> float:
    """Peak resident memory of this Python process plus the driver JVM."""
    mb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0
    if spark is not None:
        pid = spark._jvm.ProcessHandle.current().pid()
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    mb += int(line.split()[1]) / 1024.0
    return mb


class CpuClock:
    """CPU seconds (user + system) used so far by this process, the driver
    JVM and every process below the JVM (pandas-UDF workers), less the
    JVM's JIT compiler threads.  Unlike wall time it does not count time a
    runnable thread waits for a CPU, so it does not move when other tenants
    load the host.  JIT compilation is left out because it is warm-up work
    that fades the longer the JVM runs, not work of the pass: on one
    ``lakehouse_dml`` run (4 vCPUs) four timed rounds read 24.8, 21.4, 18.1
    and 17.1 CPU seconds with it, and 11.6, 12.0, 10.7 and 11.6 without."""

    def __init__(self, spark=None):
        self.jvm = spark._jvm.ProcessHandle.current().pid() if spark is not None else None
        self.tick = os.sysconf("SC_CLK_TCK")

    @staticmethod
    def _stat(pid: int) -> list[str]:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(")", 1)[1].split()

    def _jit_ticks(self) -> int:
        """Ticks of the JVM's compiler threads; they never exit (see
        JIT_OPTS), so none of their time leaves the sum."""
        ticks = 0
        for tid in os.listdir(f"/proc/{self.jvm}/task"):
            try:
                with open(f"/proc/{self.jvm}/task/{tid}/stat") as fh:
                    raw = fh.read()
            except OSError:
                continue  # exited while listing
            comm, rest = raw[raw.index("(") + 1:].rsplit(")", 1)
            if comm.startswith(("C1 CompilerThre", "C2 CompilerThre")):
                f = rest.split()
                ticks += int(f[11]) + int(f[12])
        return ticks

    def __call__(self) -> float:
        t = os.times()
        total = t.user + t.system
        if self.jvm is None:
            return total
        ticks = -self._jit_ticks()
        for pid in [self.jvm] + descendants(self.jvm):
            try:
                f = self._stat(pid)
            except OSError:
                continue
            # utime, stime, and the reaped children's cutime, cstime
            ticks += int(f[11]) + int(f[12]) + int(f[13]) + int(f[14])
        return total + ticks / self.tick


def calibration(spark=None) -> dict:
    """The fixed-work host probes bench.py records: a DuckDB range
    aggregate and (when a session exists) a Spark range aggregate, each
    the minimum of three runs, in seconds."""
    import duckdb

    con = duckdb.connect()
    duck = []
    for _ in range(3):
        t0 = time.perf_counter()
        con.execute("SELECT sum(i * i) FROM range(20000000) t(i)").fetchall()
        duck.append(time.perf_counter() - t0)
    con.close()
    out = {"duckdb_range_agg_s": round(min(duck), 4)}
    if spark is not None:
        sp = []
        for _ in range(3):
            t0 = time.perf_counter()
            spark.range(50_000_000).selectExpr("sum(id % 1048576)").collect()
            sp.append(time.perf_counter() - t0)
        out["spark_range_agg_s"] = round(min(sp), 4)
    return out
