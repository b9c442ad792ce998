"""Seeded generator of reference-shaped input for the nrg-etl workload.

One calendar year of hourly EIA-930 balancing-authority rows (raw headers,
one gzipped CSV per authority and half-year) and GHCN-Daily station rows
(headerless, one gzipped CSV per group of stations), plus the locations
dimension. The same seed gives byte-identical files.

The input carries exactly counted edge rows, so the pipeline's outputs
and QC report are known in advance:

- weather rows of stations missing from locations, which the pipeline's
  semi-join drops;
- stations whose acronym is empty, whose station-days land in the NULL
  ``bal_auth`` partition and are the QC budget
  (``max_unmatched_station_days``);
- a locations row with no weather at all;
- duplicate TMAX readings, which the pivot's MAX must collapse, and AWND
  readings, which the pivot drops.

Run directly to (re)generate one seed's input:
``python3 perfbench/nrg_input.py <seed> <dir>``.
"""

from __future__ import annotations

import calendar
import datetime
import gzip
import json
import os
import random
import shutil
import sys

YEAR = 2023
N_BAL_AUTHS = 12
N_STATIONS = 160          # in locations, with weather
N_NULL_ACRONYM = 4        # of those, mapped to an empty acronym
N_UNKNOWN_STATIONS = 8    # weather only, not in locations
STATIONS_PER_FILE = 12
OPTIONAL_PARAMS = ("TAVG", "SNOW", "SNWD", "PRCP", "AWND")
FUEL_HEADERS = (
    "Net Generation (MW) from Coal",
    "Net Generation (MW) from Natural Gas",
    "Net Generation (MW) from Nuclear",
    "Net Generation (MW) from All Petroleum Products",
    "Net Generation (MW) from Hydropower and Pumped Storage",
    "Net Generation (MW) from Solar",
    "Net Generation (MW) from Wind",
    "Net Generation (MW) from Other Fuel Sources",
    "Net Generation (MW) from Unknown Fuel Sources",
)
BA_HEADER = (
    "Balancing Authority,Region,Local Time at End of Hour,UTC Time at End of Hour,"
    "Data Date,Demand Forecast (MW),Demand (MW) (Adjusted),Net Generation (MW) (Adjusted),"
    + ",".join(FUEL_HEADERS)
)
FORMAT_VERSION = 1


def _hours() -> list[tuple[str, str, str, int]]:
    """(local time, UTC time, data date, month) for every hour of YEAR."""
    out = []
    t = datetime.datetime(YEAR, 1, 1)
    step = datetime.timedelta(hours=1)
    while t.year == YEAR:
        out.append((
            t.strftime("%m/%d/%Y %I:%M:%S %p"),
            t.strftime("%m/%d/%Y %H:%M"),
            t.strftime("%m/%d/%Y"),
            t.month,
        ))
        t += step
    return out


def generate(seed: int, root: str) -> dict:
    """Write one seed's input under ``root``; return the paths and the
    exact outputs the pipeline must produce from it."""
    rng = random.Random(seed)
    os.makedirs(os.path.join(root, "bal_auth"), exist_ok=True)
    os.makedirs(os.path.join(root, "weather"), exist_ok=True)
    bas = [f"B{i:02d}{rng.choice('ABCDEFGHJK')}" for i in range(N_BAL_AUTHS)]
    hours = _hours()
    for ba in bas:
        region = f"R{rng.randrange(8)}"
        for half in (0, 1):
            path = os.path.join(root, "bal_auth", f"EIA930_{ba}_{YEAR}_H{half + 1}.csv.gz")
            lines = [BA_HEADER]
            for local, utc, day, month in hours:
                if (month > 6) != bool(half):
                    continue
                parts = [rng.randrange(0, 2000) for _ in FUEL_HEADERS]
                lines.append(
                    f"{ba},{region},{local},{utc},{day},{rng.randrange(500, 9000)},"
                    f"{rng.randrange(500, 9000)},{sum(parts)},{','.join(map(str, parts))}"
                )
            _write_gz(path, lines)

    known = [f"USW{seed % 1000:03d}{i:05d}" for i in range(N_STATIONS)]
    unknown = [f"USX{seed % 1000:03d}{i:05d}" for i in range(N_UNKNOWN_STATIONS)]
    null_acronym = set(rng.sample(known, N_NULL_ACRONYM))
    acronym = {s: ("" if s in null_acronym else bas[i % len(bas)]) for i, s in enumerate(known)}
    with open(os.path.join(root, "locations.csv"), "w", encoding="ascii", newline="") as f:
        f.write("Stations,Acronym\n")
        for s in known:
            f.write(f"{s},{acronym[s]}\n")
        f.write(f"USO{seed % 1000:03d}00000,ORPH\n")  # no weather rows

    days = [
        datetime.date(YEAR, 1, 1) + datetime.timedelta(days=d)
        for d in range(366 if calendar.isleap(YEAR) else 365)
    ]
    stations = known + unknown
    rng.shuffle(stations)
    for k in range(0, len(stations), STATIONS_PER_FILE):
        lines = []
        for s in stations[k:k + STATIONS_PER_FILE]:
            for d in days:
                date = d.strftime("%Y%m%d")
                tmax = rng.randrange(-100, 400)
                lines.append(f"{s},{date},TMIN,{tmax - rng.randrange(0, 150)},,,S,0700")
                lines.append(f"{s},{date},TMAX,{tmax},,,S,0700")
                if rng.random() < 0.2:  # duplicate reading: the pivot keeps the MAX
                    lines.append(f"{s},{date},TMAX,{tmax - 50},,,S,0700")
                for p in OPTIONAL_PARAMS:
                    if rng.random() < 0.5:
                        lines.append(f"{s},{date},{p},{rng.randrange(0, 500)},,,S,0700")
        _write_gz(os.path.join(root, "weather", f"ghcnd_{k // STATIONS_PER_FILE:03d}.csv.gz"), lines)

    n_weather = len(known) * len(days)
    distinct_acronyms = {a for a in acronym.values() if a}
    expected = {
        "bal_auth_rows": len(bas) * len(hours),
        "bal_auth_partitions": 12,
        "time_rows": len(hours),
        "time_partitions": 12,
        "weather_rows": n_weather,
        "weather_partitions": (len(distinct_acronyms) + 1) * 12,
        "null_station_days": N_NULL_ACRONYM * len(days),
    }
    manifest = {
        "format": FORMAT_VERSION,
        "seed": seed,
        "input_bytes": _tree_bytes(root),
        "expected": expected,
    }
    with open(os.path.join(root, "manifest.json"), "w", encoding="ascii") as f:
        json.dump(manifest, f, indent=1, sort_keys=True)
    return with_paths(manifest, root)


def with_paths(manifest: dict, root: str) -> dict:
    """The manifest plus the absolute input paths the pipeline reads."""
    return {
        **manifest,
        "bal_auth_csv": os.path.join(root, "bal_auth"),
        "weather_csv": os.path.join(root, "weather"),
        "locations_csv": os.path.join(root, "locations.csv"),
    }


def cached(seed: int, cache_dir: str) -> dict:
    """The seed's input under ``cache_dir``, generated on first use."""
    root = os.path.join(cache_dir, f"nrg-seed{seed}")
    try:
        with open(os.path.join(root, "manifest.json"), encoding="ascii") as f:
            manifest = json.load(f)
        if manifest.get("format") == FORMAT_VERSION:
            return with_paths(manifest, root)
        shutil.rmtree(root)
    except FileNotFoundError:
        pass
    tmp = f"{root}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    manifest = generate(seed, tmp)
    os.replace(tmp, root)
    return with_paths(manifest, root)


def _write_gz(path: str, lines: list[str]) -> None:
    # mtime=0 keeps the gzip header, and so the file, identical per seed.
    with open(path, "wb") as raw, gzip.GzipFile(fileobj=raw, mode="wb", compresslevel=1, mtime=0) as f:
        f.write(("\n".join(lines) + "\n").encode("ascii"))


def _tree_bytes(root: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, name))
        for d, _dirs, files in os.walk(root)
        for name in files
        if name != "manifest.json"
    )


if __name__ == "__main__":
    print(json.dumps(generate(int(sys.argv[1]), sys.argv[2])["expected"]))
