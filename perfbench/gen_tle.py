"""Seeded inputs and their expected warehouse for the ``cron_ingest`` workload.

A run lands one TLE payload per cron cycle in the layout
``sources.fetch.land_payload`` writes (one text file per fetch) and one
NOAA 30-day flux JSON per cycle. Payload ``k`` holds every object once:
about half re-publish the element set they had in payload ``k - 1``
(identical lines), the rest advance their epoch, and about 1% of the
records carry a non-numeric field the parser must reject.

Every epoch lies between 60 h and 1 h before ``anchor``, so the 3-day
``current_timestamp``-relative dedup window gives the same answer
whenever a probe runs during the benchmark.

``expected_warehouse`` computes, without Spark, the rows the pipeline
must store: the distinct valid (norad_id, epoch_utc) records, one
dimension row per NORAD id with a valid record, and one flux row per
distinct day.
"""

from __future__ import annotations

import datetime as dt
import json
import random
from dataclasses import dataclass, field

EPOCH_SPAN_H = 60.0  # oldest epoch, hours before the anchor
EPOCH_STEP_H = 4.0  # an advancing object moves its epoch by up to this
MAX_PAYLOADS = (EPOCH_SPAN_H - 1.0) // EPOCH_STEP_H  # epochs stay >= 1 h old
CORRUPT_FRAC = 0.01
REPUBLISH_FRAC = 0.5
FLUX_DAYS = 30


def _checksum(line: str) -> str:
    s = sum(int(c) if c.isdigit() else (1 if c == "-" else 0) for c in line)
    return str(s % 10)


@dataclass
class SatObject:
    norad: int
    name: str
    intl: str  # 8-char international designator field
    inclination: float
    raan: float
    ecc_digits: str  # 7 digits, implied leading "0."
    arg_perigee: float
    mean_motion: float
    bstar: str  # 8-char field, e.g. " 34123-3" or "-11606-4"
    rev0: int
    epoch_offset_h: float


@dataclass
class Record:
    """One (object, element set) as published: lines plus parsed truth."""

    norad: int
    epoch: dt.datetime
    name_line: str
    line1: str
    line2: str
    valid: bool
    values: dict = field(default_factory=dict)


def _epoch_fields(epoch: dt.datetime) -> tuple[str, str, dt.datetime]:
    """(yy, 12-char day-of-year field, the exact instant the parser reads).

    Days carry 8 decimals, i.e. steps of 864 µs, so the parser's
    round((day - 1) * 86400e6) is an exact integer in any engine."""
    jan1 = dt.datetime(epoch.year, 1, 1)
    micros = round((epoch - jan1).total_seconds() * 1e6)
    steps = round(micros / 864)
    day_int, frac = divmod(steps, 100_000_000)
    day_field = f"{day_int + 1:03d}.{frac:08d}"
    exact = jan1 + dt.timedelta(microseconds=steps * 864)
    return f"{epoch.year % 100:02d}", day_field, exact


def _bstar_value(field8: str):
    """The parser's B* decode (``functions.tle.bstar_compat``)."""
    b = field8.strip()
    mant, suffix = b[:-2], b[-2:]
    if "+" in suffix or "-" in suffix:
        try:
            return float("0." + mant) * 10.0 ** int(suffix)
        except ValueError:
            return None  # the reference's negative-mantissa quirk
    return float(b)


def _make_objects(rng: random.Random, n: int) -> list[SatObject]:
    objs = []
    for i in range(n):
        norad = 44000 + i * 3 + rng.randrange(3)
        year = rng.choice((19, 20, 21, 22, 23, 24))
        launch = rng.randrange(1, 200)
        piece = rng.choice("ABCDEFGH")
        sign = "-" if rng.random() < 0.1 else " "
        bstar = f"{sign}{rng.randrange(10000, 99999):05d}-{rng.randrange(3, 6)}"
        objs.append(
            SatObject(
                norad=norad,
                name=f"STARLINK-{norad - 42000}",
                intl=f"{year:02d}{launch:03d}{piece:<3s}",
                inclination=round(rng.uniform(43.0, 97.7), 4),
                raan=round(rng.uniform(0.0, 359.9), 4),
                ecc_digits=f"{rng.randrange(1, 30000):07d}",
                arg_perigee=round(rng.uniform(0.0, 359.9), 4),
                mean_motion=round(rng.uniform(15.0, 15.9), 8),
                bstar=bstar,
                rev0=rng.randrange(1000, 60000),
                epoch_offset_h=rng.uniform(0.0, EPOCH_STEP_H),
            )
        )
    return objs


def _record(o: SatObject, version: int, anchor: dt.datetime, corrupt: bool) -> Record:
    epoch = anchor - dt.timedelta(
        hours=EPOCH_SPAN_H - o.epoch_offset_h - version * EPOCH_STEP_H
    )
    yy, day, exact = _epoch_fields(epoch)
    mean_anomaly = (o.arg_perigee * 7.0 + version * 33.3) % 360.0
    rev = (o.rev0 + version * 4) % 100000
    line1 = (
        f"1 {o.norad:05d}U {o.intl} {yy}{day} "
        f" .00001234  00000-0 {o.bstar} 0  999"
    )
    incl = f"{o.inclination:8.4f}"
    if corrupt:
        incl = incl[:3] + "x" + incl[4:]
    line2 = (
        f"2 {o.norad:05d} {incl} {o.raan:8.4f} {o.ecc_digits} "
        f"{o.arg_perigee:8.4f} {mean_anomaly:8.4f} {o.mean_motion:11.8f}{rev:5d}"
    )
    line1 += _checksum(line1)
    line2 += _checksum(line2)
    values = {
        "norad_id": o.norad,
        "epoch_utc": exact,
        "inclination": float(line2[8:16]) if not corrupt else None,
        "raan": float(line2[17:25]),
        "eccentricity": float("0." + line2[26:33]),
        "arg_perigee": float(line2[34:42]),
        "mean_anomaly": float(line2[43:51]),
        "mean_motion": float(line2[52:63]),
        "b_star_drag": _bstar_value(line1[53:61]),
        "rev_number": int(line2[63:68]),
    }
    return Record(o.norad, exact, o.name, line1, line2, not corrupt, values)


@dataclass
class CronInputs:
    """Every payload of a run, in landing order, plus the objects behind them."""

    anchor: dt.datetime
    objects: list[SatObject]
    tle_payloads: list[str]
    records: list[list[Record]]
    flux_payloads: list[str]
    flux_days: dict[dt.date, float]


def generate(seed: int, n_objects: int, n_payloads: int, anchor: dt.datetime) -> CronInputs:
    """Seeded payloads for ``n_payloads`` cycles of ``n_objects`` objects.

    ``anchor`` (naive UTC) is the run's start clock rounded down; it only
    shifts every epoch, so one seed always gives the same payloads up to
    that shift."""
    if n_payloads > MAX_PAYLOADS:
        raise ValueError(f"at most {MAX_PAYLOADS:.0f} payloads keep epochs in the window")
    rng = random.Random(seed)
    objs = _make_objects(rng, n_objects)
    version = [0] * n_objects
    corrupt_prev = [False] * n_objects
    payloads, records = [], []
    for k in range(n_payloads):
        recs = []
        for i, o in enumerate(objs):
            if k > 0 and rng.random() >= REPUBLISH_FRAC:
                version[i] += 1
                corrupt_prev[i] = rng.random() < CORRUPT_FRAC
            elif k == 0:
                corrupt_prev[i] = rng.random() < CORRUPT_FRAC
            recs.append(_record(o, version[i], anchor, corrupt_prev[i]))
        records.append(recs)
        payloads.append(
            "\n".join(f"{r.name_line}\n{r.line1}\n{r.line2}" for r in recs)
        )

    day0 = anchor.date() - dt.timedelta(days=FLUX_DAYS + n_payloads)
    flux_days: dict[dt.date, float] = {}
    flux_payloads = []
    for k in range(n_payloads):
        rows = [["time_tag", "flux"]]
        for d in range(FLUX_DAYS):
            day = day0 + dt.timedelta(days=k + d)
            if day not in flux_days:
                flux_days[day] = round(rng.uniform(65.0, 250.0), 1)
            rows.append([f"{day.isoformat()} 20:00:00", f"{flux_days[day]}"])
        flux_payloads.append(json.dumps(rows))
    return CronInputs(anchor, objs, payloads, records, flux_payloads, flux_days)


def launch_year(intl: str):
    yy = intl.strip()[:2]
    if not yy.isdigit():
        return None
    y = int(yy)
    return 2000 + y if y < 57 else 1900 + y


def expected_warehouse(inputs: CronInputs, n_landed: int) -> dict[str, set]:
    """Rows the warehouse must hold after the first ``n_landed`` payloads,
    as sets of tuples (``fetched_at_utc`` left out: it is wall-clock)."""
    fact, dims = {}, {}
    by_norad = {o.norad: o for o in inputs.objects}
    for recs in inputs.records[:n_landed]:
        for r in recs:
            if not r.valid:
                continue
            v = r.values
            fact[(r.norad, r.epoch)] = tuple(v[c] for c in FACT_COLS)
            o = by_norad[r.norad]
            dims[r.norad] = (o.norad, o.name, o.intl.strip(), launch_year(o.intl))
    days = set()
    day0 = inputs.anchor.date() - dt.timedelta(days=FLUX_DAYS + len(inputs.flux_payloads))
    for k in range(n_landed):
        for d in range(FLUX_DAYS):
            day = day0 + dt.timedelta(days=k + d)
            days.add((day, inputs.flux_days[day]))
    return {
        "fact_telemetry": set(fact.values()),
        "dim_satellites": set(dims.values()),
        "fact_space_weather": days,
    }


FACT_COLS = (
    "norad_id", "epoch_utc", "inclination", "raan", "eccentricity",
    "arg_perigee", "mean_anomaly", "mean_motion", "b_star_drag", "rev_number",
)
DIM_COLS = ("norad_id", "sat_name", "intl_designator", "launch_year")
WEATHER_COLS = ("date_utc", "f10_7_flux")
