"""Seeded OpenAQ-shaped lake generator with an expectations manifest.

Scales the semantic cases of ``tests/fixtures_openaq.py`` to a lake of
``n_locations`` stations over ``n_days`` logical dates:

- duplicate extractions of a location (a stale earlier row per day) and
  of a measurement (an earlier re-extraction with another value);
- metadata drift: a location renames itself on some days, so the
  J2 fan-out over snapshot days yields several mart rows per
  (location, hour) — the ``unique`` collisions the quality suite reports;
- late rows two days older than the logical date (below any incremental
  watermark, so a MERGE drops them while a full refresh keeps them);
- corrupt and blank NDJSON lines;
- flagged, null-flag and out-of-range values;
- orphan sensors (no parent location) and locations whose sensor array
  is empty or missing.

Layout follows the reference lake: Hive ``YYYY/MM/DD`` day directories
holding NDJSON chunks of at most 1000 location rows or 2000 measurement
rows. Every value is an integer (temperatures a multiple of 5 °C, so
their Fahrenheit form is integral too): sums are exact in any engine,
which keeps the mart oracle's hash stable.

Usage: ``python3 perfbench/lakegen.py --seed 7 --out /tmp/lake``
writes the lake plus ``manifest.json``.
"""

from __future__ import annotations

import argparse
import datetime as dt
import json
import os
import random
from dataclasses import dataclass

START = dt.date(2025, 3, 1)
LOCATION_CHUNK = 1000
MEASUREMENT_CHUNK = 2000

# parameter id -> (name, unit, valid value generator, out-of-range value)
PARAMETERS = {
    2: ("pm25", "µg/m³", lambda r: r.randint(0, 90), -5),
    1: ("pm10", "µg/m³", lambda r: r.randint(0, 150), -1),
    3: ("o3", "µg/m³", lambda r: r.randint(0, 120), -3),
    5: ("no2", "µg/m³", lambda r: r.randint(0, 80), -2),
    100: ("temperature", "c", lambda r: 5 * r.randint(-6, 8), -100),
    98: ("relativehumidity", "%", lambda r: r.randint(5, 100), 140),
    22: ("winddirection", "deg", lambda r: r.randint(0, 360), 400),
    34: ("windspeed", "m/s", lambda r: r.randint(0, 25), -4),
}
COUNTRIES = [("US", "United States", "America/New_York"), ("ES", "Spain", "Europe/Madrid"),
             ("FR", "France", "Europe/Paris"), ("IN", "India", "Asia/Kolkata"),
             ("CL", "Chile", "America/Santiago")]
ORPHAN_SENSOR_BASE = 9_000_000
CORRUPT_LINE = "{not valid json]"


@dataclass(frozen=True)
class LakeSpec:
    """Lake shape; the seed only chooses values, never sizes."""

    n_locations: int = 40
    n_days: int = 40
    readings_per_sensor_day: int = 6
    p_drift: float = 0.04  # per location-day: rename from this day on
    p_dup_location: float = 0.05  # per location-day: stale earlier extraction
    p_no_sensors: float = 0.05  # per location: [] or missing sensors array
    p_flagged: float = 0.03
    p_null_flag: float = 0.02
    p_out_of_range: float = 0.03
    p_dup_measurement: float = 0.02
    p_late: float = 0.05  # per sensor-day: one reading two days old
    orphan_rows_per_day: int = 3


def day_of(i: int) -> dt.date:
    return START + dt.timedelta(days=i)


def run_id(i: int) -> str:
    return f"scheduled__{day_of(i).isoformat()}T06:00:00+00:00"


def generate(seed: int, spec: LakeSpec = LakeSpec()) -> dict:
    """All rows of the lake, as plain dicts, per logical day.

    Returns ``{"locations": [[row...] per day], "measurements": [...]}``
    where each row is exactly the NDJSON record written to the lake."""
    rnd = random.Random(seed)
    stations = []
    for i in range(spec.n_locations):
        cc, cname, tz = COUNTRIES[rnd.randrange(len(COUNTRIES))]
        loc_id = 1000 + i
        roll = rnd.random()
        if roll < spec.p_no_sensors / 2:
            sensors = []
        elif roll < spec.p_no_sensors:
            sensors = None  # key omitted from the payload
        else:
            pids = rnd.sample(sorted(PARAMETERS), rnd.randint(2, 4))
            sensors = [
                {"id": loc_id * 10 + j, "name": PARAMETERS[p][0],
                 "parameter": {"id": p, "name": PARAMETERS[p][0], "units": PARAMETERS[p][1]}}
                for j, p in enumerate(pids)
            ]
        locality_kind = rnd.randrange(3)  # locality / city fallback / timezone fallback
        stations.append({
            "id": loc_id,
            "name": f"Station {loc_id}",
            "locality": f"Town {loc_id % 97}" if locality_kind == 0 else None,
            "city": f"City {loc_id % 13}" if locality_kind == 1 else None,
            "timezone": tz,
            "country": {"code": cc, "name": cname},
            "coordinates": {"latitude": round(rnd.uniform(-60, 70), 4),
                            "longitude": round(rnd.uniform(-170, 170), 4)},
            "provider": {"name": "AirNow"},
            "isMobile": False,
            "isMonitor": True,
            "sensors": sensors,
        })

    days_loc, days_mea = [], []
    for d in range(spec.n_days):
        date = day_of(d).isoformat()
        loc_rows = []
        for st in stations:
            if rnd.random() < spec.p_drift:
                st["name"] = f"{st['name'].split(' v')[0]} v{d}"
            payload = {k: v for k, v in st.items() if not (k == "sensors" and v is None)}
            audit = {"_audit_run_id": run_id(d), "_audit_logical_date": date,
                     "_audit_source": "OpenAQ API"}
            if rnd.random() < spec.p_dup_location:
                stale = dict(payload, name=payload["name"] + " (stale)")
                loc_rows.append({"data": stale, **audit,
                                 "_audit_extracted_at": f"{date}T05:00:{st['id'] % 60:02d}Z",
                                 "_audit_gcs_filename": None})
            loc_rows.append({"data": payload, **audit,
                             "_audit_extracted_at": f"{date}T06:00:{st['id'] % 60:02d}Z",
                             "_audit_gcs_filename": None})
        days_loc.append(loc_rows)

        mea_rows = []
        extracted = f"{date}T23:30:00Z"

        def reading(sensor_id, pid, when, value, flags, extracted_at=extracted):
            data = {"value": value,
                    "parameter": {"id": pid, "name": PARAMETERS.get(pid, ("p",))[0], "units": "u"},
                    "period": {"datetimeFrom": {"utc": when}, "datetimeTo": {"utc": when},
                               "interval": "01:00:00"},
                    "flagInfo": {} if flags is None else {"hasFlags": flags}}
            return {"data": data, "_audit_run_id": run_id(d), "_audit_sensor_id": sensor_id,
                    "_audit_logical_date": date, "_audit_extracted_at": extracted_at,
                    "_audit_gcs_filename": None}

        for st in stations:
            for s in st["sensors"] or []:
                pid = s["parameter"]["id"]
                _, _, valid_value, bad_value = PARAMETERS[pid]
                slots = rnd.sample(range(24 * 60), spec.readings_per_sensor_day)
                for slot in sorted(slots):
                    when = f"{date}T{slot // 60:02d}:{slot % 60:02d}:00Z"
                    roll = rnd.random()
                    flags = False
                    value = valid_value(rnd)
                    if roll < spec.p_flagged:
                        flags = True
                    elif roll < spec.p_flagged + spec.p_null_flag:
                        flags = None
                    elif roll < spec.p_flagged + spec.p_null_flag + spec.p_out_of_range:
                        value = bad_value
                    if rnd.random() < spec.p_dup_measurement:
                        # the earlier extraction loses the latest-per-key dedup
                        mea_rows.append(reading(s["id"], pid, when, valid_value(rnd), False,
                                                f"{date}T22:30:00Z"))
                    mea_rows.append(reading(s["id"], pid, when, value, flags))
                if d >= 2 and rnd.random() < spec.p_late:
                    slot = rnd.randrange(24 * 60)
                    when = f"{day_of(d - 2).isoformat()}T{slot // 60:02d}:{slot % 60:02d}:30Z"
                    mea_rows.append(reading(s["id"], pid, when, valid_value(rnd), False))
        for k in range(spec.orphan_rows_per_day):
            slot = rnd.randrange(24 * 60)
            when = f"{date}T{slot // 60:02d}:{slot % 60:02d}:00Z"
            mea_rows.append(reading(ORPHAN_SENSOR_BASE + k, 2, when, rnd.randint(0, 50), False))
        days_mea.append(mea_rows)
    return {"locations": days_loc, "measurements": days_mea}


def _write_chunks(root: str, table: str, d: int, rows: list[dict], chunk: int) -> dict:
    day = day_of(d)
    folder = os.path.join(root, table, f"{day.year:04d}", f"{day.month:02d}", f"{day.day:02d}")
    os.makedirs(folder, exist_ok=True)
    stats = {"files": 0, "corrupt": 0, "blank": 0, "bytes": 0}
    for part, lo in enumerate(range(0, max(len(rows), 1), chunk)):
        path = os.path.join(folder, f"{table}_part{part}.ndjson")
        lines = [json.dumps(r, ensure_ascii=False, sort_keys=True) for r in rows[lo:lo + chunk]]
        # one blank and one corrupt line per chunk, at a row-dependent spot
        at = len(lines) // 2
        lines[at:at] = ["", CORRUPT_LINE]
        data = ("\n".join(lines) + "\n").encode("utf-8")
        with open(path, "wb") as f:
            f.write(data)
        stats["files"] += 1
        stats["corrupt"] += 1
        stats["blank"] += 1
        stats["bytes"] += len(data)
    return stats


def write_lake(root: str, seed: int, spec: LakeSpec = LakeSpec(),
               prefixes=None) -> tuple[dict, dict]:
    """Write the lake under ``root`` and return ``(lake rows, manifest)``;
    the manifest is also written to ``root/manifest.json``. Expectations
    are computed for the day counts in ``prefixes`` (default: all)."""
    lake = generate(seed, spec)
    per_day = []
    for d in range(spec.n_days):
        entry = {"date": day_of(d).isoformat()}
        for table, chunk in (("locations", LOCATION_CHUNK), ("measurements", MEASUREMENT_CHUNK)):
            rows = lake[table][d]
            stats = _write_chunks(root, table, d, rows, chunk)
            entry[table] = {"rows": len(rows), **stats}
        entry["late_rows"] = sum(
            1 for r in lake["measurements"][d]
            if r["data"]["period"]["datetimeFrom"]["utc"][:10] < entry["date"]
        )
        per_day.append(entry)
    manifest = {"seed": seed, "spec": spec.__dict__, "days": per_day,
                "expected": expectations(lake, spec.n_days, prefixes)}
    with open(os.path.join(root, "manifest.json"), "w") as f:
        json.dump(manifest, f, indent=1, sort_keys=True)
    return lake, manifest


def day_glob(root: str, table: str, days: range | None = None) -> str | list[str]:
    """Glob (or list of day globs) for ``table`` over ``days``."""
    if days is None:
        return os.path.join(root, table, "*", "*", "*", "*.ndjson")
    return [
        os.path.join(root, table, f"{day_of(d).year:04d}", f"{day_of(d).month:02d}",
                     f"{day_of(d).day:02d}", "*.ndjson")
        for d in days
    ]


def expectations(lake: dict, n_days: int, prefixes=None) -> dict[int, dict]:
    """What ``runner.build`` must report once days ``0..k-1`` are in
    bronze, for each ``k`` in ``prefixes`` (default: every ``k``):
    model row counts and the failures of each quality check that the
    generated cases make fail. Checks absent here must pass."""
    wanted = set(prefixes or range(1, n_days + 1))
    out = {}
    locs: dict[tuple, dict] = {}  # (location id, date) -> latest row
    meas: dict[tuple, dict] = {}  # (sensor, parameter, from-ts) -> latest row
    raw_loc = raw_mea = 0
    for d in range(n_days):
        for r in lake["locations"][d]:
            raw_loc += 1
            key = (r["data"]["id"], r["_audit_logical_date"])
            if key not in locs or r["_audit_extracted_at"] > locs[key]["_audit_extracted_at"]:
                locs[key] = r
        for r in lake["measurements"][d]:
            raw_mea += 1
            key = (r["_audit_sensor_id"], r["data"]["parameter"]["id"],
                   r["data"]["period"]["datetimeFrom"]["utc"])
            if key not in meas or r["_audit_extracted_at"] > meas[key]["_audit_extracted_at"]:
                meas[key] = r
        if d + 1 not in wanted:
            continue
        # sensor -> its location's attribute tuples over its snapshot days
        attrs_of: dict[int, set] = {}
        days_of: dict[int, int] = {}
        sensor_keys = set()
        for r in locs.values():
            data = r["data"]
            attrs = (data["id"], data["name"], data["country"]["code"],
                     data["coordinates"]["latitude"], data["coordinates"]["longitude"])
            for s in data.get("sensors") or []:
                attrs_of.setdefault(s["id"], set()).add(attrs)
                days_of[s["id"]] = days_of.get(s["id"], 0) + 1
                sensor_keys.add((s["id"], s["parameter"]["id"]))
        valid = [m for m in meas.values() if _is_valid(m)]
        groups: dict[tuple, set] = {}
        for m in valid:
            hour = m["data"]["period"]["datetimeFrom"]["utc"][:13]
            for attrs in attrs_of.get(m["_audit_sensor_id"], ()):
                groups.setdefault((attrs[0], hour), set()).add(attrs)
        collisions = sum(len(v) - 1 for v in groups.values())
        out[d + 1] = {
            "raw_locations": raw_loc,
            "raw_measurements": raw_mea,
            "stg_openaq__locations": len(locs),
            "stg_openaq__sensors": sum(days_of.values()),
            "stg_openaq__measurements": len(meas),
            "int_valid_measurements": len(valid),
            "joined_rows": sum(days_of.get(m["_audit_sensor_id"], 0) for m in valid),
            "mart_rows": sum(len(v) for v in groups.values()),
            "failures": {
                "relationships:stg_openaq__measurements.sensor_parameter_key":
                    sum(1 for k in meas if (k[0], k[1]) not in sensor_keys),
                "unique:mart_location_air_quality.air_quality_record_id": collisions,
                "unique:mart_location_weather.weather_record_id": collisions,
            },
            "freshness": "error",
        }
    return out


def _is_valid(m: dict) -> bool:
    data = m["data"]
    if data["flagInfo"].get("hasFlags") is not False:
        return False
    pid, v = data["parameter"]["id"], data["value"]
    lo, hi = {100: (-80, 60), 22: (0, 360), 98: (0, 100)}.get(pid, (0, float("inf")))
    return lo <= v <= hi


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    args = ap.parse_args()
    _, manifest = write_lake(args.out, args.seed)
    print(json.dumps(manifest["expected"][LakeSpec().n_days], sort_keys=True))


if __name__ == "__main__":
    main()
