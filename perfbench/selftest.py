"""Self-test of the benchmark at small scale (sf 0.001, 2,000 manifest entries).

    python3 perfbench/selftest.py

For every workload ``run.py`` knows it runs ``run.main`` once untraced and
once traced for one second, and checks that the result line carries exactly
the BENCHMARK.json metrics with their units and that nothing failed.  Then it
makes one registry statement return a wrong result (one duplicated row, or
a row of NULLs when the right result is empty) and checks that the run
counts it in ``failed`` and does not report a pass.  Exits 0 when every
check holds.
"""

from __future__ import annotations

import contextlib
import functools
import io
import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)
sys.path.insert(0, HERE)

import run  # noqa: E402
import wl_lakehouse  # noqa: E402
import wl_metadata  # noqa: E402
import wl_registry  # noqa: E402


def _run(workload: str, trace: int) -> dict:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        code = run.main(["--workload", workload, "--seed", "7", "--seconds", "1",
                         "--trace", str(trace)])
    lines = buf.getvalue().strip().splitlines()
    detail = json.loads(lines[-2])["metrics"]
    for name, m in detail.items():
        assert "unit" in m and isinstance(m["value"], (int, float)), (workload, name, m)
    out = json.loads(lines[-1])
    assert code == 0, (workload, trace, code)
    assert set(out) == {"correct", "attempted", "failed", "metrics"}, out.keys()
    return out


def main() -> int:
    wl_registry.SF = 0.001
    wl_lakehouse.SF = 0.001
    wl_metadata.N_ENTRIES = 2_000
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    e2e = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    layers = {m["name"]: m["unit"] for m in spec["per_layer"]}
    problems = []
    for w in run.WORKLOADS:
        for trace, want in ((0, e2e), (1, layers)):
            out = _run(w, trace)
            got = {k: v["unit"] for k, v in out["metrics"].items()}
            if got != want:
                problems.append(f"{w} trace={trace}: metrics {sorted(set(got) ^ set(want))} "
                                "differ from BENCHMARK.json")
            if not out["correct"] or out["failed"]:
                problems.append(f"{w} trace={trace}: {out['failed']} of "
                                f"{out['attempted']} operations failed")
            print(f"selftest: {w} trace={trace}: {out['attempted']} checked, "
                  f"{out['failed']} failed", file=sys.stderr)

    # a wrong statement result must be counted, not passed
    from iceberg_trino_sql_demo_spark import operators as ops

    ops.load_all()
    victim = wl_registry.bench_slice(ops, wl_registry.FAMILIES["tpch_events"])[0]
    good = ops.QUERIES[victim]

    @functools.wraps(good)  # keeps __module__, which places it in its family
    def wrong(spark, sf_dir):
        df = good(spark, sf_dir)
        if df.head(1):
            return df.union(df.limit(1))
        return spark.createDataFrame([(None,) * len(df.columns)], df.schema, verifySchema=False)

    ops.QUERIES[victim] = wrong
    try:
        out = _run("tpch_events", 0)
    finally:
        ops.QUERIES[victim] = good
    if out["correct"] or out["failed"] < 1:
        problems.append(f"wrong result of {victim} was not counted: {out}")
    for p in problems:
        print("selftest FAILED:", p, file=sys.stderr)
    print(json.dumps({"selftest": "ok" if not problems else "failed",
                      "problems": problems}))
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
