"""Local mirror of the driver's correctness gate.

Runs every ``__spark_entry__.queries()`` entry on Spark and its
``oracle_sql()`` twin on DuckDB over the same parquet tables, then
compares row count, column-name set, and an order-insensitive value
digest (columns sorted by name, rows sorted, values stringified).

Usage:
    python tools/check.py                 # all queries at sf0.01
    python tools/check.py q1 q2 ...       # subset
    SF_DIR=/root/testdata/sf0.001 python tools/check.py
"""

from __future__ import annotations

import math
import os
import sys
import time
import traceback

import duckdb

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)


def _norm_value(v):
    # Type-faithful normalization: the driver's digest distinguishes
    # int vs float vs Decimal (and Decimal scale), so the local mirror
    # must too — coercing 123.0 -> "123" masked 4 driver hash-fails in
    # round 1. Each numeric class gets a distinct prefix.
    import decimal as _decimal

    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return str(v).lower()
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return "f:" + repr(round(v, 9))
    if isinstance(v, int):
        return "i:" + str(v)
    if isinstance(v, _decimal.Decimal):
        return "d:" + str(v)
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_norm_value(x) for x in v) + "]"
    if hasattr(v, "isoformat"):
        import datetime as _dt

        if isinstance(v, _dt.datetime):
            return v.isoformat(sep=" ").replace("+00:00", "")
        return v.isoformat()
    return str(v)


def _digest(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = sorted(tuple(_norm_value(r[i]) for i in order) for r in rows)
    return out


def main() -> int:
    sf_dir = os.environ.get("SF_DIR", "/root/testdata/sf0.01")
    only = set(sys.argv[1:])

    import __spark_entry__ as entrymod
    import bench
    from delta_data_pipelines_spark.session import get_spark

    spark = get_spark("check", extra_conf={"spark.ui.enabled": "false"})

    con = duckdb.connect()
    for t in TABLES:
        p = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    n_pass = n_fail = n_skip = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir)
            srows = sdf.collect()
            scols = sdf.columns
        except Exception:
            print(f"FAIL {name}: spark raised")
            traceback.print_exc()
            n_fail += 1
            continue
        finally:
            # a staged frame that escapes in a query's lazy result is
            # released only by the session reset the bench runs
            # between queries; run the same one here
            bench._reset_session_state(spark)
        if name not in oracles:
            print(f"SKIP {name}: rows-only ({len(srows)} rows, {time.time()-t0:.1f}s)")
            n_skip += 1
            continue
        try:
            res = con.execute(oracles[name])
            ocols = [d[0] for d in res.description]
            orows = res.fetchall()
        except Exception:
            print(f"FAIL {name}: duckdb raised")
            traceback.print_exc()
            n_fail += 1
            continue

        problems = []
        # HUGEINT audit: the driver fetches DuckDB results through
        # pandas, where HUGEINT renders as float64 while Spark emits
        # bigint — rows/schema match but the type-faithful digest
        # differs.  The mirror's native fetch yields Python ints and
        # cannot see that, so flag any twin whose result schema
        # contains HUGEINT (fix: CAST(... AS BIGINT) in the twin).
        try:
            desc = con.execute(
                "DESCRIBE " + oracles[name]
            ).fetchall()
            huge = [c for c, t, *_ in desc if "HUGEINT" in str(t).upper()]
            if huge:
                problems.append(
                    "oracle twin returns HUGEINT column(s) "
                    f"{huge} — driver's pandas fetch renders these as "
                    "float64; CAST to BIGINT in the twin"
                )
        except Exception:
            pass  # DESCRIBE unsupported for this statement shape
        if len(srows) != len(orows):
            problems.append(f"rowcount spark={len(srows)} oracle={len(orows)}")
        if sorted(scols) != sorted(ocols):
            problems.append(f"schema spark={sorted(scols)} oracle={sorted(ocols)}")
        if not problems:
            sd = _digest(scols, [tuple(r) for r in srows])
            od = _digest(ocols, orows)
            if sd != od:
                diff = next(i for i in range(len(sd)) if sd[i] != od[i])
                problems.append(
                    f"values differ; first diff row {diff}:\n  spark : {sd[diff]}\n  oracle: {od[diff]}"
                )
        if problems:
            print(f"FAIL {name}: " + "; ".join(problems))
            n_fail += 1
        else:
            print(f"PASS {name} ({len(srows)} rows, {time.time()-t0:.1f}s)")
            n_pass += 1

    print(f"\n{n_pass} pass, {n_fail} fail, {n_skip} rows-only")

    # rotation-aging hard check (full runs only): an oracle-able query
    # registered 2+ rounds ago with no driver row and no seat in the
    # current window means rotation was forgotten — fail loudly here
    # rather than letting mirror-only coverage accumulate silently.
    if not only:
        import inventory

        stale = inventory.stale_unrotated()
        if stale:
            print(
                f"STALE-UNROTATED ({len(stale)}): {', '.join(stale)} — "
                "registered 2+ rounds, never driver-checked, not in the "
                "window; rotate them into __spark_entry__._PRIORITY"
            )
            return 1

    return 1 if n_fail else 0


if __name__ == "__main__":
    raise SystemExit(main())
