"""Local replica of the driver's correctness gate.

Unlike tests/oracle_utils.py (which compares Spark Rows against DuckDB
``fetchall`` values, keeping Decimal as Decimal), this mimics the actual
driver: Spark ``toPandas()`` vs DuckDB ``.df()`` -- the path where
DECIMAL becomes float64 on the DuckDB side and where array-typed cells
crash pandas sorting. A query green here should hash-match in
CORRECTNESS_r{N}.json.

Usage: python scripts/driver_sim.py [first_n | --all] [name ...]
       [--rows-only] [--record OUT.json]

``--all`` sweeps EVERY registry query -- the window is the same
``all_queries()`` dict the record's ``checked`` count derives from, so
the two can never drift (VERDICT r11 'what's wrong' #2: a hand-typed
count one short of the registry silently skipped its last row,
retention_cohorts, and the record couldn't say which). ``--record`` writes a JSON record carrying
the full per-query outcome list (name, status, rows, seconds), the
failures, and the slowest-10 -- every row auditable by name.
"""

from __future__ import annotations

import datetime
import decimal
import math
import os
import sys
import time

import duckdb
import numpy as np
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)


def _norm(v):
    if v is None:
        return ("null",)
    if isinstance(v, (bool, np.bool_)):
        return ("bool", bool(v))
    if isinstance(v, (int, np.integer)):
        return ("i", int(v))
    if isinstance(v, (float, np.floating)):
        f = float(v)
        if math.isnan(f):
            return ("null",)
        return ("f", f)
    if isinstance(v, decimal.Decimal):
        return ("DECIMAL-LEAK", str(v))  # should never appear post-finalize
    if isinstance(v, (pd.Timestamp, datetime.datetime)):
        if pd.isna(v):
            return ("null",)
        return ("t", pd.Timestamp(v).isoformat())
    if isinstance(v, datetime.date):
        return ("t", pd.Timestamp(v).isoformat())
    if isinstance(v, np.datetime64):
        return ("t", pd.Timestamp(v).isoformat())
    if isinstance(v, bytes):
        return ("b", v)
    if isinstance(v, (list, np.ndarray)):
        return ("ARRAY-LEAK", tuple(_norm(x) for x in v))
    try:
        if pd.isna(v):
            return ("null",)
    except (TypeError, ValueError):
        pass
    return (type(v).__name__, v)


def canon_rows(df: pd.DataFrame) -> list[tuple]:
    # per-column extraction: iterrows() would upcast whole mixed rows to
    # float64 and mask int-vs-float type leaks the driver would catch
    cols = sorted(df.columns)
    data = [df[c].tolist() for c in cols]
    rows = [tuple(_norm(col[i]) for col in data) for i in range(len(df))]
    return sorted(rows)


def main() -> int:
    from pyspark.sql import SparkSession

    from sample_for_transactional_datalake_using_s3tables_spark.operators import (
        all_oracles,
        all_queries,
    )
    from sample_for_transactional_datalake_using_s3tables_spark.plans import configure

    args = sys.argv[1:]
    first_n = 50
    names: list[str] | None = None
    rows_only = False
    sweep_all = False
    record_path: str | None = None
    if "--rows-only" in args:
        # scale sweeps past the oracle's single-node feasibility (e.g.
        # dedup_semantic at sf100 is O(N^1.5 * dim) on BOTH sides): run
        # the Spark query alone and report row count + wall time -- the
        # weaker rows-only check the driver records for non-SQL ops
        rows_only = True
        args = [a for a in args if a != "--rows-only"]
    if "--all" in args:
        sweep_all = True
        args = [a for a in args if a != "--all"]
    if "--record" in args:
        i = args.index("--record")
        record_path = args[i + 1]
        args = args[:i] + args[i + 2:]
    if args and args[0].isdigit():
        first_n = int(args[0])
        args = args[1:]
    if args:
        names = args

    spark = (
        SparkSession.builder.master(f"local[{os.environ.get('SPARK_GRAFT_CPUS', '32')}]")
        .config("spark.sql.shuffle.partitions", "32")
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"),
        )
        .appName("driver_sim")
        .getOrCreate()
    )
    configure(spark)
    spark.sparkContext.setLogLevel("ERROR")

    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')"
        )

    queries = all_queries()
    oracles = all_oracles()
    if names:
        unknown = [n for n in names if n not in queries]
        if unknown:
            print(f"FAIL unknown query names: {unknown}")
            return 1
        window = names
    elif sweep_all:
        # the window IS the registry: `checked` in the record derives
        # from the same dict the loop iterates, never a typed count
        window = list(queries)
    else:
        window = list(queries)[:first_n]

    n_pass = n_fail = 0
    outcomes: list[dict] = []  # one row per window entry, by name

    def _done(name: str, status: str, detail: str, rows, dt) -> None:
        nonlocal n_pass, n_fail
        outcomes.append(
            {"q": name, "status": status, "rows": rows,
             "sec": round(dt, 1), **({"detail": detail} if detail else {})}
        )
        if status == "ok":
            n_pass += 1
        elif status == "fail":
            n_fail += 1

    for name in window:
        t0 = time.time()
        try:
            sdf = queries[name](spark, SF_DIR).toPandas()
        except Exception as e:  # noqa: BLE001
            print(f"FAIL {name}: spark error: {e}")
            _done(name, "fail", f"spark error: {e}"[:300], None,
                  time.time() - t0)
            continue
        if rows_only:
            dt = time.time() - t0
            print(f"ok   {name}: {len(sdf)} rows in {dt:.1f}s (rows-only)")
            _done(name, "ok", "rows-only", len(sdf), dt)
            continue
        if name not in oracles:
            print(f"SKIP {name}: no oracle ({len(sdf)} rows)")
            _done(name, "skip", "no oracle", len(sdf), time.time() - t0)
            continue
        try:
            ddf = con.sql(oracles[name]).df()
        except Exception as e:  # noqa: BLE001
            print(f"FAIL {name}: oracle error: {e}")
            _done(name, "fail", f"oracle error: {e}"[:300], len(sdf),
                  time.time() - t0)
            continue
        dt = time.time() - t0
        if sorted(sdf.columns) != sorted(ddf.columns):
            print(
                f"FAIL {name}: columns spark={sorted(sdf.columns)} "
                f"duck={sorted(ddf.columns)}"
            )
            _done(name, "fail", "column mismatch", len(sdf), dt)
            continue
        if len(sdf) != len(ddf):
            print(f"FAIL {name}: rows spark={len(sdf)} duck={len(ddf)}")
            _done(name, "fail",
                  f"rows spark={len(sdf)} duck={len(ddf)}", len(sdf), dt)
            continue
        try:
            srows, drows = canon_rows(sdf), canon_rows(ddf)
        except Exception as e:  # noqa: BLE001
            print(f"FAIL {name}: canon crash: {e}")
            _done(name, "fail", f"canon crash: {e}"[:300], len(sdf), dt)
            continue
        bad = [(a, b) for a, b in zip(srows, drows) if a != b]
        if bad:
            print(f"FAIL {name}: {len(bad)}/{len(srows)} rows differ; first:")
            print(f"   spark: {bad[0][0]}")
            print(f"   duck : {bad[0][1]}")
            _done(name, "fail", f"{len(bad)}/{len(srows)} rows differ",
                  len(sdf), dt)
        else:
            # scan every cell: a leak may hide behind NULL-first sort order
            leak = any("LEAK" in cell[0] for row in srows for cell in row)
            if leak:
                print(f"FAIL {name}: harness-hostile output type (Decimal/array)")
                _done(name, "fail", "Decimal/array output leak",
                      len(sdf), dt)
            else:
                print(f"ok   {name}: {len(srows)} rows in {dt:.1f}s")
                _done(name, "ok", "", len(srows), dt)
    print(f"\n{n_pass} passed, {n_fail} failed of {len(window)} checked")
    if record_path:
        import json as _json

        record = {
            "metric": "full_registry_sweep" if sweep_all else "sweep",
            "sf_dir": SF_DIR,
            "registry_size": len(queries),
            "checked": len(window),  # == registry_size under --all
            "passed": n_pass,
            "failed": n_fail,
            "skipped": sum(1 for o in outcomes if o["status"] == "skip"),
            "wall_sec_total": round(sum(o["sec"] for o in outcomes), 1),
            "failures": [o for o in outcomes if o["status"] == "fail"],
            "slowest": sorted(
                outcomes, key=lambda o: -o["sec"]
            )[:10],
            # the full audit trail: every window row by name
            "outcomes": outcomes,
        }
        with open(record_path, "w") as f:
            _json.dump(record, f, indent=1)
        print(f"record written: {record_path}")
    return 1 if n_fail else 0


if __name__ == "__main__":
    raise SystemExit(main())
