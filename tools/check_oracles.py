"""Driver-style correctness comparator: run every queries() entry on Spark
and its oracle_sql() twin on DuckDB at sf0.01; compare row count, column
names, and order-insensitive values. Strictest-possible local gate —
values must match EXACTLY after canonicalization (floats included, which
is why every float column is rounded identically on both sides).

Usage: python tools/check_oracles.py [sf_dir] [query ...]
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb
import pyarrow as pa


def _arrow_family(t):
    if pa.types.is_decimal(t):
        return "decimal"  # DuckDB HUGEINT -> decimal128: driver-hash poison
    if pa.types.is_integer(t):
        return "int"
    if pa.types.is_floating(t):
        return "float"
    if pa.types.is_timestamp(t):
        return "timestamp"
    if pa.types.is_boolean(t):
        return "bool"
    if pa.types.is_string(t) or pa.types.is_large_string(t):
        return "str"
    if pa.types.is_date(t):
        return "timestamp"
    return str(t)


_SPARK_FAMILY = {
    "tinyint": "int", "smallint": "int", "int": "int", "bigint": "int",
    "float": "float", "double": "float", "string": "str",
    "timestamp": "timestamp", "timestamp_ntz": "timestamp",
    "date": "timestamp", "boolean": "bool",
}


def dtype_mismatches(spark_dtypes, arrow_schema):
    """Column-name -> (spark family, duck family) for families that differ.

    The driver canonicalizes both sides through pandas/arrow, so a DuckDB
    HUGEINT (decimal) vs Spark BIGINT is a hash mismatch even when
    fetchall() values compare equal as Python ints."""
    duck = {f.name: _arrow_family(f.type) for f in arrow_schema}
    bad = {}
    for name, dt in spark_dtypes:
        sfam = _SPARK_FAMILY.get(dt, dt)
        dfam = duck.get(name)
        if dfam is not None and sfam != dfam:
            bad[name] = (sfam, dfam)
    return bad


def canon(val):
    if isinstance(val, float):
        # normalize -0.0 and represent at full precision
        if val == 0.0:
            return "0.0"
        return repr(round(val, 12))
    if val is None:
        return "<null>"
    return str(val)


def rows_to_multiset(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(tuple(canon(r[i]) for i in order) for r in rows)


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    from pyspark.sql import SparkSession

    import __spark_entry__ as entrymod

    import os

    spark = (
        SparkSession.builder.master(
            f"local[{os.environ.get('SPARK_GRAFT_GATE_CPUS', '8')}]"
        )
        .config("spark.sql.shuffle.partitions", "16")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.python.worker.reuse", "true")
        # collect() of a multi-million-row result (kg_triples at the 10x
        # scale step) blows the 1g default heap
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_GATE_DRIVER_MEM", "12g"),
        )
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    con = duckdb.connect()
    for t in (
        "region nation customer supplier part orders lineitem events documents embeddings"
    ).split():
        con.sql(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )

    queries = entrymod.queries()
    oracles = entrymod.oracle_sql()
    failures = []
    for name in sorted(queries):
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = queries[name](spark, sf_dir)
            scols = sdf.columns
            srows = [tuple(r) for r in sdf.collect()]
        except Exception as exc:  # one bad query must not kill the batch
            print(f"{name:24s} ERR  {type(exc).__name__}: {str(exc)[:200]}")
            failures.append(name)
            continue
        t_spark = time.time() - t0
        if name not in oracles:
            print(f"{name:24s} rows-only: {len(srows):8d} rows   ({t_spark:.1f}s spark)")
            if len(srows) == 0 and name not in ("exact_dedup",):
                print(f"  WARNING: {name} returned 0 rows")
            continue
        t1 = time.time()
        rel = con.sql(oracles[name])
        ocols = rel.columns
        arrow_schema = con.sql(oracles[name]).arrow().schema
        orows = rel.fetchall()
        t_duck = time.time() - t1
        ok_cols = sorted(scols) == sorted(ocols)
        ok_count = len(srows) == len(orows)
        bad_dtypes = dtype_mismatches(sdf.dtypes, arrow_schema)
        ok_vals = False
        if ok_cols and ok_count:
            ok_vals = rows_to_multiset(scols, srows) == rows_to_multiset(ocols, orows)
        status = "OK " if (ok_cols and ok_count and ok_vals and not bad_dtypes) else "FAIL"
        print(
            f"{name:24s} {status} rows={len(srows)}/{len(orows)} cols={'ok' if ok_cols else (scols, ocols)}"
            f" vals={'ok' if ok_vals else 'MISMATCH'} ({t_spark:.1f}s spark, {t_duck:.1f}s duck)"
        )
        if status == "FAIL":
            failures.append(name)
            if bad_dtypes:
                print(f"   dtype mismatch (spark vs duck/arrow): {bad_dtypes}")
            if ok_cols and ok_count:
                a = rows_to_multiset(scols, srows)
                b = rows_to_multiset(ocols, orows)
                sa, sb = set(a), set(b)
                print("   spark-only:", list(sa - sb)[:3])
                print("   duck-only :", list(sb - sa)[:3])
    spark.stop()
    if failures:
        print("FAILURES:", failures)
        sys.exit(1)
    print("ALL ORACLE CHECKS PASSED")


if __name__ == "__main__":
    main()
