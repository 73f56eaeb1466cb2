"""Compare the benchmark's generated tables with a fixture directory.

    python3 perfbench/datacheck.py FIXTURE_DIR [--sf SF]

Run from the root of a checkout.  FIXTURE_DIR holds the fixture parquet
files of one scale factor (its name ends in ``sf<SF>`` unless ``--sf`` is
given).  The tables are generated at that scale factor with the
benchmark's fixture seed into a temporary directory, and compared with
the fixtures:

* per table: row count (must be equal);
* per column: type (must be equal), distinct count, min and max, and for
  columns with repeated values the median and largest number of rows per
  value (the skew that sizes groups, state stores and joins);
* per query_mix operation: rows of its DuckDB oracle result.

A min or max differs when it is off by more than ``TOLERANCE`` of the
column's range; a count (distinct values, rows per value, result rows)
when it is off by more than ``TOLERANCE`` of the fixture's count and by
more than three times its sampling noise (``sqrt`` of the count): two
seeds of the same distribution differ by that much.  Prints every comparison, marks the ones that differ, and
exits 1 if any does.  The benchmark itself never reads FIXTURE_DIR.
"""

from __future__ import annotations

import argparse
import math
import os
import re
import sys
import tempfile

import duckdb
import pyarrow.parquet as pq

import datagen
import workloads

TOLERANCE = 0.05


def column_stats(con: duckdb.DuckDBPyConnection, path: str) -> dict[str, dict[str, object]]:
    out = {}
    for field in pq.read_schema(path):
        name, kind = field.name, str(field.type)  # the parquet type, unit included
        col = f'"{name}"'
        if kind.startswith("list"):
            col = f"len({col})"
        n, distinct, lo, hi = con.sql(
            f"SELECT count(*), count(DISTINCT {col}), min({col}), max({col}) FROM '{path}'"
        ).fetchone()
        stats = {"type": kind, "distinct": distinct, "min": lo, "max": hi}
        if distinct < n:
            stats["rows/value p50"], stats["rows/value max"] = con.sql(
                f"SELECT median(c), max(c) FROM (SELECT count(*) AS c FROM '{path}' GROUP BY {col})"
            ).fetchone()
        out[name] = stats
    return out


def bound_differs(want: object, got: object, span: float) -> bool:
    """A min or max ``got`` is off from ``want`` by more than the tolerance
    of the column's range ``span``."""
    if isinstance(want, (int, float)) and isinstance(got, (int, float)):
        return abs(got - want) > TOLERANCE * max(span, 1e-12)
    if hasattr(want, "timestamp") and hasattr(got, "timestamp"):
        return abs(got.timestamp() - want.timestamp()) > TOLERANCE * max(span, 1.0)
    return want != got


def count_differs(want: float, got: float) -> bool:
    return abs(got - want) > max(TOLERANCE * want, 3.0 * math.sqrt(want))


def _range(stats: dict[str, object]) -> float:
    lo, hi = stats["min"], stats["max"]
    if hasattr(lo, "timestamp"):
        return hi.timestamp() - lo.timestamp()
    if isinstance(lo, (int, float)):
        return float(hi - lo)
    return 0.0


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("fixture_dir")
    ap.add_argument("--sf", type=float)
    args = ap.parse_args()
    sys.path.insert(0, os.getcwd())
    sf = args.sf
    if sf is None:
        found = re.search(r"sf([0-9.]+)$", os.path.normpath(args.fixture_dir))
        if not found:
            ap.error("cannot read the scale factor from the directory name; give --sf")
        sf = float(found.group(1))

    bad = 0
    con = duckdb.connect()
    with tempfile.TemporaryDirectory() as gen_dir:
        datagen.write_tables(gen_dir, sf, datagen.FIXTURE_SEED)
        for table in sorted(f.removesuffix(".parquet") for f in os.listdir(gen_dir)):
            fix_path = os.path.join(args.fixture_dir, f"{table}.parquet")
            gen_path = os.path.join(gen_dir, f"{table}.parquet")
            rows = [con.sql(f"SELECT count(*) FROM '{p}'").fetchone()[0] for p in (fix_path, gen_path)]
            mark = "  " if rows[0] == rows[1] else "!!"
            bad += mark == "!!"
            print(f"{mark} {table}: rows fixture={rows[0]} generated={rows[1]}")
            fix, gen = column_stats(con, fix_path), column_stats(con, gen_path)
            for col in fix:
                if col not in gen:
                    print(f"!!   {table}.{col}: missing from the generated table")
                    bad += 1
                    continue
                for key, want in fix[col].items():
                    got = gen[col].get(key)
                    if key == "type":
                        off = want != got
                    elif isinstance(want, str):  # the bounds of a small domain
                        off = want != got and fix[col]["distinct"] <= 100
                    elif key in ("min", "max"):
                        off = bound_differs(want, got, _range(fix[col]))
                    else:
                        off = count_differs(want, got)
                    mark = "!!" if off else "  "
                    bad += off
                    print(f"{mark}   {table}.{col} {key}: fixture={want} generated={got}")

        import __spark_entry__ as entry
        from tests.parity import duckdb_connection

        fix_con, gen_con = duckdb_connection(args.fixture_dir), duckdb_connection(gen_dir)

        oracles = entry.oracle_sql()
        for name in workloads.QUERY_MIX + workloads.STREAMS:
            want = len(fix_con.sql(oracles[name]).df())
            got = len(gen_con.sql(oracles[name]).df())
            off = count_differs(want, got)
            bad += off
            print(f"{'!!' if off else '  '} oracle {name}: rows fixture={want} generated={got}")
    print(f"{bad} comparison(s) differ")
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
