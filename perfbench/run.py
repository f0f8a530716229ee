#!/usr/bin/env python3
"""Benchmark of the engine's real job: cron ingest cycles and registry queries.

Usage (from the repository root):

    python3 perfbench/run.py --workload cron_ingest --seed 1 --seconds 15 --trace 0

Workloads and metrics are declared in ``BENCHMARK.json``; the layer →
metric → workload table is in ``perfbench/README.md``. ``--trace 0``
measures the end-to-end metrics with tracing off; ``--trace 1`` is a
separate traced run that prints the per-layer metrics and writes every
span and count to ``.perfbench_out/trace_<workload>_seed<seed>.json``.

The last line of standard output is one JSON object
``{"correct", "attempted", "failed", "metrics"}``; lines before it give
every metric of the workload by name and unit for a human reader. Load
is one process on ``local[<cores>]`` with no client threads. The run
writes only under ``.perfbench_work/`` and ``.perfbench_out/`` in the
repository root and removes its working directory when it ends.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = "celestrak_tle_data_pipeline_spark"

# rows per table scale like the test data's SF (1000 ≈ sf0.001): sf0.01
QUERY_TABLE_ROWS = 10_000


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def tail(lat: list[float]):
    """(value, percentile, n) of the highest percentile with at least ten
    samples beyond it, or None when there are fewer than eleven samples."""
    n = len(lat)
    if n < 11:
        return None
    s = sorted(lat)
    i = n - 11
    return s[i], 100.0 * (i + 1) / n, n


def start_spark(work: str):
    from celestrak_tle_data_pipeline_spark.session import get_spark

    cores = len(os.sched_getaffinity(0))
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "3g")
    return get_spark(
        app_name="perfbench",
        master=f"local[{cores}]",
        shuffle_partitions=cores,
        extra_conf={
            "spark.local.dir": tmp,
            "spark.sql.warehouse.dir": os.path.join(work, "spark-warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        },
    )


def stop_spark(spark) -> None:
    """Stop the session, then the JVM it launched, and wait for it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001 — a JVM that ignores EOF is killed
            proc.kill()
            proc.wait()


def run_workload(spark, t0: float, name: str, seed: int, seconds: float, traced: bool,
                 work: str, objects: int | None = None, sweep: bool = True,
                 rows: int = QUERY_TABLE_ROWS):
    """Run one workload on ``spark`` (started at ``perf_counter`` time
    ``t0``); returns (result dict, tracer). ``objects``, ``sweep`` and
    ``rows`` shrink the inputs for the self-test."""
    from perfbench import ingest, queries
    from perfbench.gen_tables import write_tables
    from perfbench.trace import EngineCounters, Tracer

    tracer = Tracer(traced)
    engine = EngineCounters(spark) if traced else None
    out = {"workload": name, "seed": seed, "seconds": seconds, "traced": traced,
           "cores": spark.sparkContext.defaultParallelism}
    if name == "cron_ingest":
        t_start = time.perf_counter() - t0
        lat, phases, failures, attempted, layer, setup_s = ingest.run_cron(
            spark, work, seed, seconds, tracer, engine,
            objects=objects or ingest.OBJECTS, sweep=sweep,
        )
        out["setup_s"] = t_start + setup_s
        out.update(phases)
        out["wall_s"] = sum(lat) + (phases["replay_s"] or 0.0) + (phases["compact_s"] or 0.0)
        failed = min(len(failures), attempted)
    else:
        names = queries.WORKLOADS[name]
        data = write_tables(os.path.join(work, "data"), seed, rows)
        t_start = time.perf_counter() - t0
        lat, results, errors, rounds, first_pass_s, layer = queries.run_queries(
            spark, names, data, seconds, tracer, engine
        )
        out["setup_s"] = t_start + first_pass_s
        # the median pass: a pass that a burst of host load slowed is set aside
        k = len(names)
        out["wall_s"] = statistics.median(sum(lat[j * k:(j + 1) * k]) for j in range(rounds))
        wrong = queries.check_results(results, queries.oracle_canon(data, names, work))
        failures = [f"{q}: {n} raised" for q, n in errors.items()]
        failures += [f"{q}: {n} wrong results" for q, n in wrong.items()]
        attempted = rounds * len(names)
        failed = sum(errors.values()) + sum(wrong.values())
    out.update(lat=lat, attempted=attempted, failed=failed, failures=failures)
    if name == "cron_ingest":
        out["op_p50_s"] = statistics.median(lat) if lat else float("nan")
    else:
        # ops run in passes over ``names``: each query's median, then their median
        out["op_p50_s"] = statistics.median(statistics.median(lat[i::k]) for i in range(k))
    out["failed_frac"] = failed / max(attempted, 1)
    if traced:
        out["layer"] = layer
        out["engine"] = engine.summary()
    return out, tracer


def report(res: dict, tracer, spec: dict, traced: bool) -> int:
    """Print every metric by name and unit, then the result JSON line."""
    print(f"workload {res['workload']} seed {res['seed']} cores {res['cores']} "
          f"ops {len(res['lat'])} attempted {res['attempted']} failed {res['failed']}")
    print("  op latencies (s): " + " ".join(f"{x:.3f}" for x in res["lat"]))
    for f in res["failures"]:
        print(f"  check failed: {f}")
    lines = [("setup_s", res["setup_s"], "s"), ("wall_s", res["wall_s"], "s"),
             ("op_p50_s", res["op_p50_s"], "s")]
    for k, unit in (("ingest_records_per_s", "1/s"), ("replay_s", "s"), ("compact_s", "s"),
                    ("stored_bytes_per_row", "bytes")):
        if k in res:
            lines.append((k, res[k], unit))
    lines.append(("failed_frac", res["failed_frac"], "ratio"))
    for k, v, unit in lines:
        print(f"  {k:<24} {v:.6g} {unit}")
    t = tail(res["lat"])
    if t:
        print(f"  {'op_tail_s':<24} {t[0]:.6g} s (p{t[1]:.0f} of n={t[2]})")
    else:
        print(f"  {'op_tail_s':<24} n/a: n={len(res['lat'])} ops, a tail needs 11")

    if traced:
        flat = {**res["layer"]["metrics"], **res["engine"], "trace.wall_s": res["wall_s"]}
        names = spec["per_layer"]
        os.makedirs(os.path.join(ROOT, ".perfbench_out"), exist_ok=True)
        path = os.path.join(ROOT, ".perfbench_out", f"trace_{res['workload']}_seed{res['seed']}.json")
        tracer.dump(path, res)
        print(f"  spans and counts written to {os.path.relpath(path, ROOT)}")
    else:
        flat = res
        names = spec["end_to_end"]
    metrics = {}
    for m in names:
        v = float(flat.get(m["name"], 0.0) or 0.0)
        metrics[m["name"]] = {"value": v, "unit": m["unit"]}
        if traced:
            print(f"  {m['name']:<52} {v:.6g} {m['unit']}")
    print(json.dumps({
        "correct": res["failed"] == 0,
        "attempted": int(res["attempted"]),
        "failed": int(res["failed"]),
        "metrics": metrics,
    }))
    return 0


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    # The benchmark builds and runs the program from this checkout; a
    # directory that holds only the benchmark is an error, not a result.
    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py")):
        print(f"perfbench: no {PACKAGE}/ next to perfbench/ in {ROOT}", file=sys.stderr)
        return 2
    spec = _spec()
    sys.path.insert(0, ROOT)
    from perfbench.queries import WORKLOADS

    if args.workload not in {"cron_ingest", *WORKLOADS}:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    os.makedirs(work, exist_ok=True)
    try:
        t0 = time.perf_counter()
        spark = start_spark(work)
        try:
            res, tracer = run_workload(spark, t0, args.workload, args.seed, args.seconds,
                                       bool(args.trace), work)
        finally:
            stop_spark(spark)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    return report(res, tracer, spec, bool(args.trace))


if __name__ == "__main__":
    raise SystemExit(main())
