#!/usr/bin/env python3
"""Self-test of the benchmark at a tiny size (about two minutes, one Spark session).

    python3 perfbench/selftest.py

Asserts that:

- every end-to-end metric (untraced run) and every per-layer metric
  (traced run) of every workload in ``BENCHMARK.json`` is printed with its
  unit, and the last line is the result JSON with the right keys;
- the warehouse check fails on a deliberately altered warehouse (one
  stored value changed) and on one with a row stored twice;
- the query check fails on a deliberately altered query result.
"""

from __future__ import annotations

import contextlib
import io
import json
import os
import shutil
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import ingest, queries  # noqa: E402
from perfbench.run import report, run_workload, start_spark, stop_spark  # noqa: E402

TINY = {"objects": 20, "sweep": False, "rows": 200}


def check_report(res, tracer, spec, traced: bool) -> None:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        report(res, tracer, spec, traced)
    text = buf.getvalue()
    last = json.loads(text.strip().splitlines()[-1])
    if set(last) != {"correct", "attempted", "failed", "metrics"}:
        raise AssertionError(f"result keys {sorted(last)}")
    wanted = spec["per_layer"] if traced else spec["end_to_end"]
    for m in wanted:
        got = last["metrics"].get(m["name"])
        if got is None or got["unit"] != m["unit"]:
            raise AssertionError(f"{res['workload']}: {m['name']} [{m['unit']}] not printed")
    if not last["correct"]:
        raise AssertionError(f"{res['workload']} failed its checks: {res['failures']}")


def altered_warehouse_is_caught(work: str) -> None:
    """Change one stored inclination in a checked warehouse."""
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    wh = os.path.join(work, "cron", "warehouse")
    inputs_ok = ingest.warehouse_rows(wh)
    victim = sorted(ingest.parquet_files(os.path.join(wh, "fact_telemetry")))[0]
    t = pq.read_table(victim)
    col = t.schema.get_field_index("inclination")
    t = t.set_column(col, "inclination", pc.add(t.column(col), 1.0))
    pq.write_table(t, victim)
    if not ingest.warehouse_matches(wh, inputs_ok):
        raise AssertionError("altered warehouse passed the warehouse check")


def duplicated_row_is_caught(work: str) -> None:
    """Store one fact_telemetry row a second time, in a file of its own."""
    import pyarrow.parquet as pq

    wh = os.path.join(work, "cron", "warehouse")
    inputs_ok = ingest.warehouse_rows(wh)
    victim = sorted(ingest.parquet_files(os.path.join(wh, "fact_telemetry")))[0]
    pq.write_table(pq.read_table(victim).slice(0, 1),
                   os.path.join(os.path.dirname(victim), "part-duplicate.parquet"))
    if not ingest.warehouse_matches(wh, inputs_ok):
        raise AssertionError("a duplicated row passed the warehouse check")


def altered_result_is_caught(spark, work: str) -> None:
    from celestrak_tle_data_pipeline_spark import plans

    from perfbench.gen_tables import write_tables

    name = "mann_whitney_u_values"
    data = write_tables(os.path.join(work, "alt_data"), 5, TINY["rows"])
    df = plans.all_queries()[name](spark, data)
    pdf = df.toPandas()
    expected = queries.oracle_canon(data, [name], work)
    if queries.check_results([(name, df.schema, pdf)], expected):
        raise AssertionError(f"{name} fails its oracle on unaltered tables")
    col = next(c for c in pdf.columns if pdf[c].dtype.kind == "f")
    pdf[col] = pdf[col] + 1e-6
    if not queries.check_results([(name, df.schema, pdf)], expected):
        raise AssertionError("altered query result passed the oracle check")


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    work = os.path.join(ROOT, ".perfbench_work", f"selftest-{os.getpid()}")
    os.makedirs(work, exist_ok=True)
    t0 = time.perf_counter()
    spark = start_spark(work)
    try:
        for w in spec["workloads"]:
            for traced in (False, True):
                sub = os.path.join(work, f"{w['name']}-{int(traced)}")
                res, tracer = run_workload(spark, t0, w["name"], 3, 1, traced, sub, **TINY)
                check_report(res, tracer, spec, traced)
                print(f"ok  {w['name']} trace={int(traced)}: every metric printed, checks pass")
        altered_warehouse_is_caught(os.path.join(work, "cron_ingest-0"))
        print("ok  altered warehouse fails the warehouse check")
        duplicated_row_is_caught(os.path.join(work, "cron_ingest-1"))
        print("ok  a duplicated warehouse row fails the warehouse check")
        altered_result_is_caught(spark, work)
        print("ok  altered query result fails the oracle check")
    finally:
        stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
