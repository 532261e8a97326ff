"""Driver-mimic: run __spark_entry__.entry() smoke + every queries()
entry vs its oracle_sql() through DuckDB at the given sf dir, compare
row count, schema width and order-insensitive values.  Each result
line ends with the JVM's peak resident set so far (VmHWM, MB; a query
that raises it shows a jump) and the number of RDDs Spark holds
persisted after the query (a leaked persist keeps it growing).

Usage: python tools/check_oracle.py [sf_dir] [query ...]

Runs on local[$SPARK_GRAFT_CPUS] (8 when unset).
"""

from __future__ import annotations

import os
import sys
import time

import duckdb
import numpy as np
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings"
).split()


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
        elif pd.api.types.is_float_dtype(df[c]):
            df[c] = df[c].astype("float64")
        elif pd.api.types.is_integer_dtype(df[c]):
            df[c] = df[c].astype("Int64")
    df = df.round(6)
    return df.sort_values(list(df.columns), kind="mergesort").reset_index(drop=True)


def strict_equal(a: pd.DataFrame, b: pd.DataFrame) -> tuple[bool, bool]:
    """(exact, close). `exact` mimics the driver's value-hash: float
    columns must match bit-for-bit sign included (-0.0 != +0.0 — the
    round-1 energy_profile failure mode pandas .equals cannot see).
    `close` is np.isclose(atol=1e-9): exact-fail + close-pass means a
    per-engine rounding-boundary flake rather than a wrong value."""
    exact = close = True
    for c in a.columns:
        if pd.api.types.is_float_dtype(a[c]):
            va = a[c].to_numpy(dtype="float64")
            vb = b[c].to_numpy(dtype="float64")
            nn = np.isnan(va) & np.isnan(vb)
            eq = ((va == vb) & (np.signbit(va) == np.signbit(vb))) | nn
            if not eq.all():
                exact = False
                if not (np.isclose(va, vb, atol=1e-9, equal_nan=True)).all():
                    close = False
        else:
            if not a[c].equals(b[c]):
                exact = close = False
    return exact, close


def duck(sf_dir: str) -> duckdb.DuckDBPyConnection:
    """A DuckDB connection with one view per test-data table at sf_dir."""
    con = duckdb.connect()
    for t in TABLES:
        p = f"{sf_dir}/{t}.parquet"
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    return con


def assert_matches_oracle(got: pd.DataFrame, sf_dir: str, name: str) -> None:
    """got (query ``name``'s Spark output) has the columns, row count and
    exact values of its DuckDB oracle at sf_dir."""
    import __spark_entry__ as E

    a = normalize(got)
    b = normalize(duck(sf_dir).execute(E.oracle_sql()[name]).df())
    assert list(a.columns) == list(b.columns), name
    assert len(a) == len(b), name
    assert strict_equal(a, b)[0], name


def jvm_memory(spark) -> str:
    """``rss_peak=<MB> persisted=<n>`` for the driver JVM: VmHWM from
    /proc/<pid>/status of the gateway process (? where /proc has no
    entry for it) and the size of getPersistentRDDs()."""
    peak = "?"
    try:
        with open(f"/proc/{spark.sparkContext._gateway.proc.pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    peak = f"{int(line.split()[1]) // 1024}MB"
    except (AttributeError, OSError):
        pass
    n = spark.sparkContext._jsc.getPersistentRDDs().size()
    return f"rss_peak={peak} persisted={n}"


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    import __spark_entry__ as E
    from sonar_spark.session import get_spark

    spark = get_spark(
        "oracle-check",
        cpus=int(os.environ.get("SPARK_GRAFT_CPUS", "8")),
        shuffle_partitions=16,
    )

    t0 = time.time()
    res = E.entry(spark)
    n = res.count()
    print(f"entry(): {n} rows, schema={[f.name for f in res.schema]}, "
          f"{time.time()-t0:.1f}s  {jvm_memory(spark)}", flush=True)
    assert n >= 0

    con = duck(sf_dir)
    qs, oracles = E.queries(), E.oracle_sql()
    failed = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        sdf = fn(spark, sf_dir).toPandas()
        t_spark = time.time() - t0
        if name not in oracles:
            print(f"{name:24s} rows-only: {len(sdf)} rows  ({t_spark:.1f}s)  "
                  f"{jvm_memory(spark)}", flush=True)
            continue
        odf = con.execute(oracles[name]).df()
        a, b = normalize(sdf), normalize(odf)
        ok_rows = len(a) == len(b)
        ok_cols = list(a.columns) == list(b.columns)
        ok_vals = close = False
        if ok_rows and ok_cols:
            ok_vals, close = strict_equal(a, b)
        status = "OK " if (ok_rows and ok_cols and ok_vals) else "FAIL"
        note = " [close-but-not-exact: rounding-boundary flake]" if (
            not ok_vals and close and ok_rows and ok_cols) else ""
        print(f"{name:24s} {status} rows={len(a)}/{len(b)} cols_match={ok_cols} "
              f"vals={ok_vals}  ({t_spark:.1f}s)  {jvm_memory(spark)}{note}",
              flush=True)
        if status == "FAIL":
            failed.append(name)
            if not ok_cols:
                print(f"  spark cols: {list(a.columns)}")
                print(f"  duck  cols: {list(b.columns)}")
            elif ok_rows:
                neq = ~(a == b).all(axis=1)
                print("  first diffs (spark vs duck):")
                print(pd.concat([a[neq].head(3), b[neq].head(3)]))
            else:
                print(a.head(3))
                print(b.head(3))
    print("FAILED:", failed or "none")
    return 1 if failed else 0


if __name__ == "__main__":
    raise SystemExit(main())
