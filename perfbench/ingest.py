"""The ``cron_ingest`` workload: the engine's production job.

Set-up runs one untimed cycle after landing one payload: it creates the
warehouse tables and warms the JVM. The timed phase is:

1. ``cycles`` calls of ``orchestration.run_scheduled_cycle``; before
   each, the generator lands one TLE payload and one overlapping 30-day
   flux payload (landing is the generator's work and is not timed);
2. replay: the checkpoints are deleted and the whole landing directory
   is drained again, which must write 0 rows;
3. one ``ParquetWarehouse.compact`` of ``fact_telemetry``.

Untimed checks after every operation: the warehouse equals the
generator's oracle (``fetched_at_utc`` aside), replay writes nothing,
and compaction preserves ``sinks.maintenance.table_digest``.

In the traced run each cycle also forces its layer boundaries through a
``noop`` sink (landed files → ``sources`` → ``operators.assembly`` →
``functions.tle``; flux file → ``functions.weather``), so a layer's
self time is its boundary's time minus the previous boundary's. The
sink functions are wrapped in the ``streaming.incremental`` and
``sinks.warehouse`` namespaces for the traced run only.
"""

from __future__ import annotations

import datetime as dt
import math
import os
import shutil
import time
from collections import Counter
from contextlib import contextmanager, nullcontext

from . import gen_tle
from .trace import ProgressListener, plan_nodes, plan_shape

OBJECTS = 500
# Nominal seconds per cycle on a 4-core box at OBJECTS objects:
# ``--seconds`` buys ``seconds / NOMINAL_CYCLE_S`` cycles (at least 2),
# so a run's work never depends on how fast the machine is.
NOMINAL_CYCLE_S = 7.0
WARM_CYCLES = 1  # untimed; creates the tables and warms the JVM
SWEEP_OBJECTS = (250, 500, 1000, 1500)
TABLES = ("fact_telemetry", "dim_satellites", "fact_space_weather")


def cycles_for(seconds: float) -> int:
    return max(2, round(seconds / NOMINAL_CYCLE_S))


# --------------------------------------------------------------------------
# warehouse inspection (pyarrow: no Spark job, so checks stay off the engine)


def parquet_files(root: str) -> dict[str, int]:
    out = {}
    for d, subs, files in os.walk(root):
        subs[:] = [s for s in subs if not s.startswith((".", "_"))]
        for f in files:
            if f.endswith(".parquet") and not f.startswith((".", "_")):
                p = os.path.join(d, f)
                out[p] = os.path.getsize(p)
    return out


def read_table(wh_root: str, table: str, cols) -> Counter:
    """Stored rows of ``table`` as a multiset, so a duplicate row shows."""
    import pyarrow as pa
    import pyarrow.dataset as ds

    path = os.path.join(wh_root, table)
    if not parquet_files(path):
        return Counter()
    t = ds.dataset(path, format="parquet", partitioning="hive").to_table(columns=list(cols))
    arrays = []
    for c in cols:
        a = t.column(c)
        if pa.types.is_timestamp(a.type):
            a = a.cast(pa.timestamp("us"))
        arrays.append(a.to_pylist())
    return Counter(zip(*arrays))


def warehouse_rows(wh_root: str) -> dict[str, Counter]:
    return {
        "fact_telemetry": read_table(wh_root, "fact_telemetry", gen_tle.FACT_COLS),
        "dim_satellites": read_table(wh_root, "dim_satellites", gen_tle.DIM_COLS),
        "fact_space_weather": read_table(wh_root, "fact_space_weather", gen_tle.WEATHER_COLS),
    }


BSTAR = gen_tle.FACT_COLS.index("b_star_drag")


def _bstar_12g(rows: Counter) -> Counter:
    """B* is ``mantissa * pow(10, exponent)``; the JVM's ``pow`` and
    Python's may round the last bit apart, so B* compares at 12
    significant digits. Every other column compares exactly."""
    out: Counter = Counter()
    for r, n in rows.items():
        b = None if r[BSTAR] is None else float(f"{r[BSTAR]:.12g}")
        out[r[:BSTAR] + (b,) + r[BSTAR + 1:]] += n
    return out


def warehouse_matches(wh_root: str, expected: dict[str, set]) -> list[str]:
    """Differences between the stored rows and ``expected``, in which
    every row appears once: a row stored twice is a difference."""
    got = warehouse_rows(wh_root)
    got["fact_telemetry"] = _bstar_12g(got["fact_telemetry"])
    want = {t: Counter(rows) for t, rows in expected.items()}
    want["fact_telemetry"] = _bstar_12g(want["fact_telemetry"])
    return [
        f"{t}: {got[t].total()} rows stored, {want[t].total()} expected, "
        f"{((got[t] - want[t]) + (want[t] - got[t])).total()} differ"
        for t in TABLES
        if got[t] != want[t]
    ]


# --------------------------------------------------------------------------
# traced-run hooks


@contextmanager
def sink_hooks(spark, tracer, stats):
    """Wrap the foreachBatch sink's calls for spans and dedup counts."""
    from celestrak_tle_data_pipeline_spark.sinks import warehouse
    from celestrak_tle_data_pipeline_spark.streaming import incremental

    orig_sat = incremental.append_new_satellites
    orig_tel = incremental.append_new_telemetry
    orig_anti = warehouse.anti_join_new

    def wrap(fn, kind):
        def append(wh, parsed, *a, **k):
            with tracer.span(f"sinks.warehouse.append_{kind}"):
                n = fn(wh, parsed, *a, **k)
            stats["rows_written"] += n
            return n

        return append

    def anti_join_new(batch, existing, keys, broadcast=None):
        res = orig_anti(batch, existing, keys, broadcast)
        kind = {("norad_id",): "dim", ("norad_id", "epoch_utc"): "fact"}.get(tuple(keys))
        if kind is None:
            return res
        with tracer.span(f"operators.dedup.{kind}"):
            n_new = len(res.collect())
        jplan = res._jdf.queryExecution().executedPlan()
        shape = plan_shape(jplan)
        stats[f"{kind}_new"] += n_new
        stats[f"{kind}_candidates"] += batch.count()
        stats["broadcast_joins"] += shape["broadcast_joins"]
        stats["shuffle_joins"] += shape["shuffle_joins"]
        if kind == "fact":
            for n in plan_nodes(jplan):
                if n.nodeName().startswith("Scan parquet"):  # the 3-day probe
                    m = n.metrics()
                    stats["fact_probe_rows"] += int(m.apply("numOutputRows").value())
                    stats["fact_probe_files"] += int(m.apply("numFiles").value())
        return res

    incremental.append_new_satellites = wrap(orig_sat, "dim")
    incremental.append_new_telemetry = wrap(orig_tel, "fact")
    warehouse.anti_join_new = anti_join_new
    try:
        yield
    finally:
        incremental.append_new_satellites = orig_sat
        incremental.append_new_telemetry = orig_tel
        warehouse.anti_join_new = orig_anti


def _noop(df) -> float:
    t0 = time.perf_counter()
    df.write.format("noop").mode("overwrite").save()
    return time.perf_counter() - t0


def force_boundaries(spark, tracer, engine, tle_files, flux_files, stats):
    """Time each lazy layer by pushing its boundary through a noop sink."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    from celestrak_tle_data_pipeline_spark.functions.tle import parse_tle_triples, valid_record
    from celestrak_tle_data_pipeline_spark.functions.weather import parse_flux_payload
    from celestrak_tle_data_pipeline_spark.operators.assembly import assemble_from_payloads

    def payloads(files):
        return spark.read.format("binaryFile").load(files).select(
            F.decode(F.col("content"), "UTF-8").alias("payload")
        )

    engine.new_stages()
    with tracer.span("sources"):
        t_src = _noop(payloads(tle_files))
    obs_a = Observation()
    with tracer.span("operators.assembly"):
        t_asm = _noop(assemble_from_payloads(payloads(tle_files)).observe(obs_a, F.count(F.lit(1)).alias("n")))
    _, stages = engine.new_stages()
    stats["assembly_max_task_s"] = max(stats["assembly_max_task_s"], engine.max_task_s(stages))
    obs_p = Observation()
    parsed = parse_tle_triples(assemble_from_payloads(payloads(tle_files)), fetched_at=dt.datetime(2000, 1, 1))
    with tracer.span("functions.tle"):
        t_tle = _noop(parsed.observe(
            obs_p, F.count(F.lit(1)).alias("n"),
            F.count(F.when(valid_record(), 1)).alias("valid"),
        ))
    with tracer.span("sources.weather"):
        t_wsrc = _noop(payloads(flux_files))
    obs_w = Observation()
    with tracer.span("functions.weather"):
        t_wx = _noop(parse_flux_payload(payloads(flux_files)).observe(obs_w, F.count(F.lit(1)).alias("n")))
    engine.new_stages()
    stats["assembly_self_s"] += max(t_asm - t_src, 0.0)
    stats["tle_self_s"] += max(t_tle - t_asm, 0.0)
    stats["weather_self_s"] += max(t_wx - t_wsrc, 0.0)
    stats["triples_out"] += obs_a.get["n"]
    stats["rows_valid"] += obs_p.get["valid"]
    stats["rows_rejected"] += obs_p.get["n"] - obs_p.get["valid"]
    stats["weather_rows_out"] += obs_w.get["n"]
    stats["bytes_read"] += sum(os.path.getsize(f) for f in tle_files + flux_files)


def assembly_sweep(spark, seed: int, anchor) -> dict:
    """Noop assembly of one payload at each SWEEP_OBJECTS size; the
    log-log slope of the single task's run time is the scaling exponent."""
    from pyspark.sql import functions as F

    from celestrak_tle_data_pipeline_spark.operators.assembly import assemble_from_payloads

    from .trace import EngineCounters

    eng = EngineCounters(spark)
    points = []
    for n in SWEEP_OBJECTS:
        payload = gen_tle.generate(seed, n, 1, anchor).tle_payloads[0]
        df = spark.createDataFrame([(payload,)], "payload string").select(F.col("payload"))
        eng.new_stages()
        wall = _noop(assemble_from_payloads(df))
        _, stages = eng.new_stages()
        points.append({"objects": n, "wall_s": wall, "task_s": eng.max_task_s(stages)})
    xs = [math.log(p["objects"]) for p in points]
    ys = [math.log(max(p["task_s"], 1e-3)) for p in points]
    mx, my = sum(xs) / len(xs), sum(ys) / len(ys)
    slope = sum((x - mx) * (y - my) for x, y in zip(xs, ys)) / sum((x - mx) ** 2 for x in xs)
    return {"points": points, "scaling_exponent": slope}


# --------------------------------------------------------------------------
# the workload


def run_cron(spark, work, seed, seconds, tracer, engine, objects=OBJECTS, sweep=True):
    """Returns ``(lat, phases, failures, attempted, layer, setup_s)``: cycle
    latencies, replay/compaction/storage figures, failed checks, operations
    attempted, the traced per-layer numbers (None untraced) and the
    seconds spent on set-up inside this call."""
    from celestrak_tle_data_pipeline_spark.orchestration import run_scheduled_cycle
    from celestrak_tle_data_pipeline_spark.sinks.maintenance import table_digest
    from celestrak_tle_data_pipeline_spark.sinks.warehouse import ParquetWarehouse
    from celestrak_tle_data_pipeline_spark.sources.fetch import land_payload

    t_in = time.perf_counter()
    cycles = cycles_for(seconds)
    anchor = dt.datetime.now(dt.timezone.utc).replace(tzinfo=None, minute=0, second=0, microsecond=0)
    inputs = gen_tle.generate(seed, objects, WARM_CYCLES + cycles, anchor)
    root = os.path.join(work, "cron")
    tle_land = os.path.join(root, "landing", "tle")
    wx_land = os.path.join(root, "landing", "weather")
    wh_root = os.path.join(root, "warehouse")
    failures: list[str] = []
    landed: list[tuple[str, str]] = []

    def land(k):
        stamp = anchor + dt.timedelta(minutes=k)
        tle = land_payload(inputs.tle_payloads[k], tle_land, prefix="tle", now=stamp)
        wx = land_payload(inputs.flux_payloads[k], wx_land, prefix="flux", now=stamp)
        landed.append((tle, wx))

    check_s = 0.0
    for k in range(WARM_CYCLES):
        land(k)
        run_scheduled_cycle(spark, root)
        t_check = time.perf_counter()
        failures += [f"set-up cycle {k}: {p}" for p in warehouse_matches(wh_root, gen_tle.expected_warehouse(inputs, k + 1))]
        check_s += time.perf_counter() - t_check
    setup_s = time.perf_counter() - t_in - check_s  # the checks are not set-up

    stats = dict.fromkeys((
        "rows_written", "dim_new", "dim_candidates", "fact_new", "fact_candidates",
        "broadcast_joins", "shuffle_joins", "fact_probe_rows", "fact_probe_files",
        "assembly_self_s", "assembly_max_task_s", "tle_self_s", "weather_self_s",
        "triples_out", "rows_valid", "rows_rejected", "weather_rows_out", "bytes_read",
        "files_written", "bytes_written",
    ), 0)
    listener = ProgressListener(spark) if tracer.enabled else None
    n_streams = 0
    lat, phases = [], {}

    def timed(name, fn):
        """Run one operation; returns its seconds or None when it raised."""
        t0w, t0 = time.time(), time.perf_counter()
        try:
            with tracer.span(name):
                fn()
        except Exception as ex:  # noqa: BLE001 — a failed op is counted, not fatal
            failures.append(f"{name}: {type(ex).__name__}: {ex}"[:400])
            return None
        finally:
            dt_s = time.perf_counter() - t0
            if engine is not None:
                engine.record(t0w, time.time())
        return dt_s

    with (sink_hooks(spark, tracer, stats) if tracer.enabled else nullcontext()):
        for k in range(WARM_CYCLES, WARM_CYCLES + cycles):
            land(k)
            tracer.op = k
            if tracer.enabled:
                force_boundaries(spark, tracer, engine, [landed[-1][0]], [landed[-1][1]], stats)
            before = parquet_files(wh_root)
            s = timed("streaming.incremental", lambda: run_scheduled_cycle(spark, root))
            n_streams += 2
            if s is not None:
                lat.append(s)
            # the cycles' writes only: compaction's rewrite is compact_bytes_rewritten
            after = parquet_files(wh_root)
            stats["files_written"] += len(after.keys() - before.keys())
            stats["bytes_written"] += sum(after[p] for p in after.keys() - before.keys())
            failures += [f"cycle {k}: {p}" for p in warehouse_matches(wh_root, gen_tle.expected_warehouse(inputs, k + 1))]
        n_landed = WARM_CYCLES + cycles

        before = warehouse_rows(wh_root)
        files_before = parquet_files(wh_root)
        shutil.rmtree(os.path.join(root, "checkpoints"))
        tracer.op = n_landed
        phases["replay_s"] = timed("streaming.incremental", lambda: run_scheduled_cycle(spark, root))
        n_streams += 2
        if warehouse_rows(wh_root) != before or parquet_files(wh_root).keys() != files_before.keys():
            failures.append("replay wrote rows")

    wh = ParquetWarehouse(spark, wh_root)
    fact_dir = os.path.join(wh_root, "fact_telemetry")
    digest_before = table_digest(spark.read.parquet(fact_dir))
    files_before = parquet_files(fact_dir)
    tracer.op = n_landed + 1
    if engine is not None:
        engine.new_stages()
    phases["compact_s"] = timed("sinks.warehouse.compact", lambda: wh.compact("fact_telemetry", "epoch_date"))
    files_after = parquet_files(fact_dir)
    if table_digest(spark.read.parquet(fact_dir)) != digest_before:
        failures.append("compaction changed the fact_telemetry digest")
    failures += [f"after compaction: {p}" for p in warehouse_matches(wh_root, gen_tle.expected_warehouse(inputs, n_landed))]

    stored = parquet_files(wh_root)
    n_rows = sum(v.total() for v in warehouse_rows(wh_root).values())
    phases["stored_bytes_per_row"] = sum(stored.values()) / max(n_rows, 1)
    phases["ingest_records_per_s"] = objects * len(lat) / max(sum(lat), 1e-9)
    attempted = cycles + 2

    layer = None
    if tracer.enabled:
        listener.wait_terminated(n_streams)
        listener.close()
        rewritten = {p: s for p, s in files_after.items() if p not in files_before}
        stats.update(
            compact_files_before=len(files_before),
            compact_files_after=len(files_after),
            compact_bytes_rewritten=sum(rewritten.values()),
        )
        layer = cron_layers(tracer, stats, listener.events, range(WARM_CYCLES, n_landed))
        if sweep:
            layer["sweep"] = assembly_sweep(spark, seed, anchor)
            layer["metrics"]["operators.assembly.scaling_exponent"] = layer["sweep"]["scaling_exponent"]
    return lat, phases, failures, attempted, layer, setup_s


def cron_layers(tracer, stats, progress, cycle_ops) -> dict:
    """Per-layer metrics of the traced cron run.

    Counts and the dedup/write times cover the whole timed phase. The
    self-time table (``self_s``) covers the cycles only, the phase whose
    lazy layers are forced one boundary at a time."""
    d = {
        "batches": 0, "add_batch_s": 0.0, "planning_s": 0.0, "wal_commit_s": 0.0,
        "list_s": 0.0, "files_read": 0, "state_rows": 0, "state_bytes": 0, "dup_drops": 0,
    }
    for p in progress:
        dur = p.get("durationMs", {})
        if "addBatch" in dur:
            d["batches"] += 1
        d["add_batch_s"] += dur.get("addBatch", 0) / 1000.0
        d["planning_s"] += dur.get("queryPlanning", 0) / 1000.0
        d["wal_commit_s"] += dur.get("walCommit", 0) / 1000.0
        d["list_s"] += dur.get("latestOffset", 0) / 1000.0
        d["files_read"] += sum(s.get("numInputRows", 0) for s in p.get("sources", []))
        for op in p.get("stateOperators", []):
            d["state_rows"] = max(d["state_rows"], op.get("numRowsTotal", 0))
            d["state_bytes"] = max(d["state_bytes"], op.get("memoryUsedBytes", 0))
            d["dup_drops"] += op.get("customMetrics", {}).get("numDroppedDuplicateRows", 0)
    def sink_times(ops=None):
        dedup = tracer.total("operators.dedup.dim", ops) + tracer.total("operators.dedup.fact", ops)
        append = tracer.total("sinks.warehouse.append_dim", ops) + tracer.total("sinks.warehouse.append_fact", ops)
        return dedup, max(append - dedup, 0.0)

    s = stats
    dedup_c, write_c = sink_times(cycle_ops)
    self_s = {
        "operators.assembly": s["assembly_self_s"],
        "functions.tle": s["tle_self_s"],
        "functions.weather": s["weather_self_s"],
        "operators.dedup": dedup_c,
        "sinks.warehouse": write_c,
        # what the stream costs beyond the work its layers account for
        "streaming.incremental": max(
            tracer.total("streaming.incremental", cycle_ops) - dedup_c - write_c
            - s["assembly_self_s"] - s["tle_self_s"] - s["weather_self_s"], 0.0
        ),
    }
    _, write_s = sink_times()
    dim_s = tracer.total("operators.dedup.dim")
    fact_s = tracer.total("operators.dedup.fact")
    m = {
        "sources.files_read": d["files_read"],
        "sources.bytes_read": s["bytes_read"],
        "sources.list_s": d["list_s"],
        "operators.assembly.self_s": s["assembly_self_s"],
        "operators.assembly.max_task_s": s["assembly_max_task_s"],
        "operators.assembly.triples_out": s["triples_out"],
        "functions.tle.self_s": s["tle_self_s"],
        "functions.tle.rows_valid": s["rows_valid"],
        "functions.tle.rows_rejected": s["rows_rejected"],
        "functions.tle.valid_ratio": s["rows_valid"] / max(s["rows_valid"] + s["rows_rejected"], 1),
        "functions.weather.self_s": s["weather_self_s"],
        "functions.weather.rows_out": s["weather_rows_out"],
        "streaming.incremental.self_s": self_s["streaming.incremental"],
        "streaming.incremental.batches": d["batches"],
        "streaming.incremental.add_batch_s": d["add_batch_s"],
        "streaming.incremental.planning_s": d["planning_s"],
        "streaming.incremental.wal_commit_s": d["wal_commit_s"],
        "streaming.incremental.state_rows": d["state_rows"],
        "streaming.incremental.state_bytes": d["state_bytes"],
        "streaming.incremental.in_stream_dup_drops": d["dup_drops"],
        "operators.dedup.dim_s": dim_s,
        "operators.dedup.fact_s": fact_s,
        "operators.dedup.dim_candidates": s["dim_candidates"],
        "operators.dedup.dim_new": s["dim_new"],
        "operators.dedup.fact_candidates": s["fact_candidates"],
        "operators.dedup.fact_new": s["fact_new"],
        "operators.dedup.fact_new_ratio": s["fact_new"] / max(s["fact_candidates"], 1),
        "operators.dedup.fact_probe_rows": s["fact_probe_rows"],
        "operators.dedup.fact_probe_files": s["fact_probe_files"],
        "operators.dedup.broadcast_joins": s["broadcast_joins"],
        "operators.dedup.shuffle_joins": s["shuffle_joins"],
        "sinks.warehouse.rows_written": s["rows_written"],
        "sinks.warehouse.files_written": s["files_written"],
        "sinks.warehouse.bytes_written": s["bytes_written"],
        "sinks.warehouse.write_s": write_s,
        "sinks.warehouse.compact_files_before": s["compact_files_before"],
        "sinks.warehouse.compact_files_after": s["compact_files_after"],
        "sinks.warehouse.compact_bytes_rewritten": s["compact_bytes_rewritten"],
    }
    largest = max(self_s, key=self_s.get)
    attribution = {
        "largest_self_s_layer": largest,
        "operators.assembly.self_share": self_s["operators.assembly"] / max(sum(self_s.values()), 1e-9),
    }
    return {"metrics": m, "self_s": self_s, "attribution": attribution}
