"""Order-insensitive result digests, and the tool that makes the expected ones.

A digest is the SHA-256 of a result's sorted column names followed by its
rows, each row the tuple of its values in sorted-column order rendered
canonically, the rows sorted. Values are compared exactly, as the repo's
oracle tests compare them.

``python3 perfbench/digest.py`` runs every benchmarked row's DuckDB oracle
over the vendored fixture and rewrites ``expected_digests.json``. The
benchmark itself never runs DuckDB; it compares each Spark result with the
stored digest.
"""

from __future__ import annotations

import datetime
import hashlib
import json
import math
import os
import sys
from collections.abc import Iterable, Sequence

HERE = os.path.dirname(os.path.abspath(__file__))
SF_DIR = os.path.join(HERE, "data", "sf0.01")
EXPECTED_PATH = os.path.join(HERE, "expected_digests.json")
TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")


def canon(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return str(v)
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else repr(v)
    if isinstance(v, (datetime.datetime, datetime.date)):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(canon(x) for x in v) + "]"
    if isinstance(v, (bytes, bytearray)):
        return v.hex()
    return str(v)


def digest(columns: Sequence[str], rows: Iterable[Sequence]) -> dict:
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    lines = sorted("\x1f".join(canon(r[i]) for i in order) for r in rows)
    h = hashlib.sha256("\x1f".join(columns[i] for i in order).encode())
    for line in lines:
        h.update(b"\x1e" + line.encode())
    return {"rows": len(lines), "sha256": h.hexdigest()}


def spark_digest(df) -> dict:
    return digest(list(df.columns), df.collect())


def load_expected() -> dict[str, dict]:
    with open(EXPECTED_PATH, encoding="ascii") as f:
        return json.load(f)


def main() -> None:
    import duckdb

    sys.path.insert(0, os.path.dirname(HERE))
    from nrg_etl_airflow_spark_emr_spark.plans.catalog import all_specs

    from workloads import CATALOG_ROWS

    specs = all_specs()
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')")
    out = {}
    for rows in CATALOG_ROWS.values():
        for name in rows:
            rel = con.sql(specs[name].oracle)
            out[name] = digest(list(rel.columns), rel.fetchall())
    with open(EXPECTED_PATH, "w", encoding="ascii") as f:
        json.dump(out, f, indent=1, sort_keys=True)
        f.write("\n")
    print(f"wrote {len(out)} digests to {EXPECTED_PATH}")


if __name__ == "__main__":
    main()
