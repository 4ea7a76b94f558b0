"""Local replica of the driver's correctness gate: run every
``queries()`` entry on Spark and its ``oracle_sql()`` on DuckDB at a
given sf dir, compare row count, column names, and an order-insensitive
value comparison (columns sorted by name, rows sorted by all columns).

Usage: python tools/check_oracle.py [sf_dir] [query ...]
       python tools/check_oracle.py --json OUT.json [sf_dir] [query ...]

--json additionally writes a per-query snapshot artifact
({name: {match, rows, secs, oracle_secs}}; ``secs`` is the Spark side's
wall time, ``oracle_secs`` DuckDB's) so a round can end with a committed
correctness record timestamped after the last code change.
"""

from __future__ import annotations

import sys
import tempfile
import time

import duckdb
import pandas as pd

sys.path.insert(0, ".")

import __spark_entry__ as entrymod  # noqa: E402
from dedup_spark.session import get_spark  # noqa: E402

TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings"
).split()


def norm(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
        elif str(df[c].dtype).startswith(("int", "uint", "Int")):
            df[c] = df[c].astype("int64")
        elif str(df[c].dtype).startswith("float"):
            df[c] = df[c].astype("float64")
        elif str(df[c].dtype) == "bool":
            df[c] = df[c].astype(bool)
    return df.sort_values(list(df.columns)).reset_index(drop=True)


def main() -> int:
    argv = sys.argv[1:]
    json_out = None
    if argv and argv[0] == "--json":
        json_out = argv[1]
        argv = argv[2:]
    sf_dir = argv[0] if argv else "/root/testdata/sf0.01"
    only = set(argv[1:])
    spark = get_spark("oracle_check", cores=8, shuffle_partitions=8)
    con = duckdb.connect()
    # an in-memory DuckDB spills into ./.tmp under the cwd by default;
    # keep spill files out of the checkout
    spill = tempfile.TemporaryDirectory(prefix="check_oracle_duckdb_")
    con.execute(f"SET temp_directory = '{spill.name}'")
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )
    qs, oracles = entrymod.queries(), entrymod.oracle_sql()
    failed = []
    record: dict[str, dict] = {}
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir).toPandas()
        except Exception as e:  # noqa: BLE001
            print(f"FAIL  {name}: spark error: {e}")
            failed.append(name)
            record[name] = {"match": False, "err": str(e)[:300]}
            continue
        el = time.time() - t0
        if name not in oracles:
            print(f"ok    {name}: rows-only ({len(sdf)} rows, {el:.1f}s)")
            record[name] = {"match": None, "rows": len(sdf), "secs": round(el, 1)}
            continue
        t0 = time.time()
        odf = con.execute(oracles[name]).df()
        oracle_el = time.time() - t0
        s, o = norm(sdf), norm(odf)
        if list(s.columns) != list(o.columns):
            print(f"FAIL  {name}: columns {list(s.columns)} vs {list(o.columns)}")
            failed.append(name)
        elif len(s) != len(o):
            print(f"FAIL  {name}: rows {len(s)} vs {len(o)}")
            failed.append(name)
        elif not s.equals(o):
            neq = (s != o).any(axis=1)
            print(f"FAIL  {name}: {int(neq.sum())}/{len(s)} rows differ")
            print(pd.concat([s[neq].head(3), o[neq].head(3)]))
            failed.append(name)
        else:
            print(f"ok    {name}: MATCH ({len(s)} rows, {el:.1f}s)")
        record[name] = {
            "match": name not in failed,
            "rows": len(s),
            "secs": round(el, 1),
            "oracle_secs": round(oracle_el, 2),
        }
    print("failed:", failed or "none")
    if json_out:
        import json as _json

        with open(json_out, "w") as f:
            _json.dump(
                {"sf_dir": sf_dir, "checked": len(record),
                 "failed": failed, "queries": record},
                f, indent=1,
            )
    return 1 if failed else 0


if __name__ == "__main__":
    raise SystemExit(main())
