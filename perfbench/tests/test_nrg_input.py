"""The nrg-etl input generator is deterministic per seed and its expected
counts match the files it writes."""

import gzip
import os

import nrg_input


def files(root):
    out = {}
    for d, _dirs, names in os.walk(root):
        for n in names:
            with open(os.path.join(d, n), "rb") as f:
                out[os.path.relpath(os.path.join(d, n), root)] = f.read()
    return out


def test_same_seed_same_bytes(tmp_path):
    a = nrg_input.generate(3, str(tmp_path / "a"))
    b = nrg_input.generate(3, str(tmp_path / "b"))
    assert a["expected"] == b["expected"] and a["input_bytes"] == b["input_bytes"]
    assert files(tmp_path / "a") == files(tmp_path / "b")


def test_other_seed_other_bytes(tmp_path):
    nrg_input.generate(3, str(tmp_path / "a"))
    nrg_input.generate(4, str(tmp_path / "b"))
    assert files(tmp_path / "a") != files(tmp_path / "b")


def test_expected_counts_match_the_files(tmp_path):
    m = nrg_input.generate(5, str(tmp_path))
    want = m["expected"]

    def lines(sub):
        d = os.path.join(tmp_path, sub)
        return [line for n in sorted(os.listdir(d))
                for line in gzip.open(os.path.join(d, n), "rt").read().splitlines()]

    ba = [line for line in lines("bal_auth") if not line.startswith("Balancing Authority")]
    assert len(ba) == want["bal_auth_rows"]
    assert len({line.split(",")[3] for line in ba}) == want["time_rows"]
    with open(os.path.join(tmp_path, "locations.csv")) as f:
        acronym = dict(line.split(",") for line in f.read().splitlines()[1:])
    station_days = {tuple(line.split(",")[:2]) for line in lines("weather")}
    kept = {sd for sd in station_days if sd[0] in acronym}
    assert len(kept) == want["weather_rows"]
    assert sum(1 for s, _ in kept if acronym[s] == "") == want["null_station_days"]
    assert len(station_days) > len(kept)  # unknown stations are present and dropped


def test_cached_reuses_the_generated_input(tmp_path):
    a = nrg_input.cached(6, str(tmp_path))
    stamp = os.stat(os.path.join(a["weather_csv"], "ghcnd_000.csv.gz")).st_mtime_ns
    b = nrg_input.cached(6, str(tmp_path))
    assert a == b
    assert os.stat(os.path.join(b["weather_csv"], "ghcnd_000.csv.gz")).st_mtime_ns == stamp
