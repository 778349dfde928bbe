"""Local replica of the driver's correctness gate.

Runs every ``queries()`` entry on Spark and its ``oracle_sql()`` on DuckDB
over the same parquet tables, then compares row count, sorted column names,
and an order-insensitive value comparison.

Both result sets are fetched THROUGH PANDAS (``DataFrame.toPandas()`` /
``duckdb.sql(...).df()``) because that is the driver's fetch path: DuckDB
HUGEINT (``SUM(BIGINT)``) and DECIMAL coerce to float64 on the way out, so
an oracle whose sums are not CAST to BIGINT/DOUBLE renders ``15011263.0``
against Spark's ``15011263`` and hash-fails even on bit-identical values
(the round-4 incident: 11 red rows, all representation-only).  The compare
is STRICT about int-vs-float rendering — a mismatch in numeric class is a
FAIL even when the values are numerically equal, exactly like the driver's
canonical hash.  Float-vs-float keeps a small tolerance for genuine
cross-engine double math.  ``check()`` is that compare; the default test
tier (``tests/test_registry_oracles.py``) runs it on every registered
query too.  Usage:

    python tools/selfcheck.py [sf_dir] [query_name ...]
"""

from __future__ import annotations

import math
import os
import sys
import time

import duckdb
import numpy as np
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from dbt_spark_models_spark.sources.testdata import TABLES, table_path


def _py(v):
    """Canonicalize one fetched value the way the driver renders it.

    Dates and timestamps UNIFY (a DATE and a midnight TIMESTAMP hash the
    same — driver-green rows with DATE outputs prove it: DuckDB DATE
    becomes datetime64 through pandas while Spark keeps datetime.date,
    yet they match); int and float do NOT unify (the r4 HUGEINT/DECIMAL
    incident proves that)."""
    if v is None or v is pd.NaT:
        return None
    if isinstance(v, np.generic):
        v = v.item()
    if isinstance(v, pd.Timestamp):
        return v.to_pydatetime()
    import datetime as _dt

    if isinstance(v, _dt.date) and not isinstance(v, _dt.datetime):
        return _dt.datetime.combine(v, _dt.time())
    if isinstance(v, np.ndarray):
        return [_py(x) for x in v.tolist()]
    if isinstance(v, (list, tuple)):
        return [_py(x) for x in v]
    if isinstance(v, dict):
        return {k: _py(x) for k, x in sorted(v.items())}
    if hasattr(v, "asDict"):  # pyspark Row struct inside an object column
        return {k: _py(x) for k, x in sorted(v.asDict().items())}
    return v


def _fetch(pdf: pd.DataFrame):
    cols = [str(c) for c in pdf.columns]
    rows = [
        tuple(_py(v) for v in rec)
        for rec in pdf.itertuples(index=False, name=None)
    ]
    return cols, rows


def _normalize(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = []
    for r in rows:
        vals = []
        for i in order:
            v = r[i]
            if isinstance(v, float):
                if math.isnan(v):
                    v = "NaN"
                else:
                    v = round(v, 9)
            vals.append(repr(v))
        out.append("|".join(vals))
    return sorted(out)


def _num_class(s: str):
    """'int' / 'float' / None for the repr of a cell value."""
    try:
        int(s)
        return "int"
    except ValueError:
        pass
    try:
        float(s)
        return "float"
    except ValueError:
        return None


def _values_close(a: str, b: str) -> bool:
    if a == b:
        return True
    pa, pb = a.split("|"), b.split("|")
    if len(pa) != len(pb):
        return False
    for x, y in zip(pa, pb):
        if x == y:
            continue
        cx, cy = _num_class(x), _num_class(y)
        if cx is None or cy is None:
            return False
        if cx != cy:
            # int-vs-float rendering mismatch: the driver's canonical hash
            # diverges here even when the values are numerically equal
            # (HUGEINT/DECIMAL float64 coercion) — strict fail.
            return False
        if cx == "int":
            return False
        if not math.isclose(float(x), float(y), rel_tol=1e-6, abs_tol=1e-6):
            return False
    return True


def check(spark_pdf: pd.DataFrame, duck_pdf: pd.DataFrame) -> list[str]:
    """The problems found comparing one query's Spark result with its
    DuckDB oracle result, both fetched through pandas: row count, column
    names (case-insensitive), then the order-insensitive value compare.
    An empty list is a pass."""
    scols, srows = _fetch(spark_pdf)
    dcols, drows = _fetch(duck_pdf)
    problems = []
    if len(srows) != len(drows):
        problems.append(f"rowcount spark={len(srows)} duck={len(drows)}")
    if sorted(c.lower() for c in scols) != sorted(c.lower() for c in dcols):
        problems.append(f"columns spark={sorted(scols)} duck={sorted(dcols)}")
    if not problems:
        sn = _normalize(srows, scols)
        dn = _normalize(drows, dcols)
        n_bad = sum(1 for x, y in zip(sn, dn) if not _values_close(x, y))
        if n_bad:
            for x, y in list(zip(sn, dn))[:2000]:
                if not _values_close(x, y):
                    problems.append(f"value diff:\n  spark={x}\n  duck ={y}")
                    break
            problems.append(f"{n_bad}/{len(sn)} rows differ")
    return problems


def oracle_connection(sf_dir: str) -> duckdb.DuckDBPyConnection:
    """An in-memory DuckDB connection with one view per testdata table
    present under ``sf_dir``."""
    con = duckdb.connect()
    for t in TABLES:
        p = table_path(sf_dir, t)
        if os.path.exists(p):
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    return con


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    import __spark_entry__ as entrymod

    from dbt_spark_models_spark.session import get_spark

    spark = get_spark("selfcheck")
    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    con = oracle_connection(sf_dir)

    n_pass = n_fail = n_rows_only = 0
    failures = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            spark_pdf = fn(spark, sf_dir).toPandas()
        except Exception as e:
            print(f"FAIL  {name}: spark error: {e}")
            n_fail += 1
            failures.append(name)
            continue
        if name not in oracles:
            print(f"ROWS  {name}: {len(spark_pdf)} rows (no oracle) "
                  f"[{time.time()-t0:.1f}s]")
            n_rows_only += 1
            continue
        try:
            duck_pdf = con.sql(oracles[name]).df()
        except Exception as e:
            print(f"FAIL  {name}: duckdb error: {e}")
            n_fail += 1
            failures.append(name)
            continue
        problems = check(spark_pdf, duck_pdf)
        if problems:
            print(f"FAIL  {name}: " + "; ".join(problems))
            n_fail += 1
            failures.append(name)
        else:
            print(f"PASS  {name}: {len(spark_pdf)} rows [{time.time()-t0:.1f}s]")
            n_pass += 1

    print(f"\n{n_pass} pass, {n_rows_only} rows-only, {n_fail} fail")
    if failures:
        print("failures:", " ".join(failures))
    return 1 if n_fail else 0


if __name__ == "__main__":
    raise SystemExit(main())
