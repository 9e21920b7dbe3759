"""Local replica of the driver's correctness gate: run every queries()
entry on Spark and its oracle_sql() on DuckDB at sf0.01, compare row count,
column names, and an order-insensitive value hash (columns sorted by name,
values rounded stringification, rows sorted)."""

from __future__ import annotations

import hashlib
import sys

sys.path.insert(0, "/root/repo")

import os  # noqa: E402

import duckdb  # noqa: E402

import __spark_entry__ as entry_mod  # noqa: E402
from name_matching_spark.session import get_spark  # noqa: E402

# Override with ORACLE_SF_DIR to run the same gate at another scale (e.g.
# the generated data/sf1 for the 10x scale-evidence run).
SF_DIR = os.environ.get("ORACLE_SF_DIR", "/root/testdata/sf0.01")
TABLES = "region nation customer supplier part orders lineitem events documents".split()


def norm_cell(v):
    if v is None:
        return ""
    if isinstance(v, float):
        if v != v:
            return "nan"
        return f"{v:.6g}"
    if isinstance(v, bool):
        return str(int(v))
    return str(v)


def frame_hash(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted(
        "\x01".join(norm_cell(r[i]) for i in order) for r in rows
    )
    h = hashlib.sha256()
    for line in lines:
        h.update(line.encode())
        h.update(b"\n")
    return h.hexdigest()[:16]


def main(only: list[str] | None = None):
    con = duckdb.connect()
    for t in TABLES:
        p = os.path.join(SF_DIR, f"{t}.parquet")
        if not os.path.exists(p):
            continue  # generated scale dirs carry only the benched tables
        if os.path.isdir(p):  # Spark-written dataset directory
            p = os.path.join(p, "*.parquet")
        con.execute(f"create view {t} as select * from '{p}'")
    spark = get_spark(master="local[8]")
    qs = entry_mod.queries()
    oracles = entry_mod.oracle_sql()
    failures = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        try:
            sdf = fn(spark, SF_DIR)
            scols = sdf.columns
            srows = [tuple(r) for r in sdf.collect()]
        except Exception as e:
            failures.append(name)
            print(f"FAIL {name}: spark error {str(e)[:200]}")
            continue
        if name not in oracles:
            print(f"OK(rows-only) {name}: {len(srows)} rows")
            continue
        try:
            res = con.execute(oracles[name])
            ocols = [d[0] for d in res.description]
            orows = res.fetchall()
        except Exception as e:
            failures.append(name)
            print(f"FAIL {name}: duckdb error {str(e)[:200]}")
            continue
        sh, oh = frame_hash(scols, srows), frame_hash(ocols, orows)
        if sorted(scols) != sorted(ocols):
            failures.append(name)
            print(f"FAIL {name}: columns {sorted(scols)} vs {sorted(ocols)}")
        elif len(srows) != len(orows):
            failures.append(name)
            print(f"FAIL {name}: rows {len(srows)} vs {len(orows)}")
        elif sh != oh:
            failures.append(name)
            print(f"FAIL {name}: hash {sh} vs {oh} ({len(srows)} rows)")
        else:
            print(f"OK {name}: {len(srows)} rows hash={sh}")
    spark.stop()
    print(f"\n{len(failures)} failures: {failures}")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:] or None))
