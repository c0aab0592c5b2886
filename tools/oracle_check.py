"""Local replica of the driver's correctness gate.

Runs every ``queries()`` entry on Spark and its ``oracle_sql()`` twin
on DuckDB at sf0.01, then compares row count, column names, and
order-insensitive values (exact string equality after a canonical
format). Use while iterating so CORRECTNESS_r{N}.json holds no
surprises.

Usage: python tools/oracle_check.py [name ...]
"""

from __future__ import annotations

import math
import os
import sys
import time

import duckdb

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_ORACLE_SF_DIR", "/root/testdata/sf0.01")
TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


# DuckDB type name -> acceptable Spark simpleString()s. The driver's
# value-hash is type-sensitive (round 4 lost two rows to DuckDB
# SUM(BIGINT) -> HUGEINT vs Spark LONG), so the local gate must reject
# any oracle column whose type can't hash-match the Spark column.
_INTS = {"tinyint", "smallint", "int", "bigint"}
DUCK_TO_SPARK = {
    # Integer WIDTHS are cross-compatible: g06 (spark int vs oracle
    # BIGINT) hash-matched on the real driver in round 4, so its canon
    # folds integer widths; only HUGEINT (int128) breaks it.
    "TINYINT": _INTS,
    "SMALLINT": _INTS,
    "INTEGER": _INTS,
    "BIGINT": _INTS,
    "FLOAT": {"float"},
    "DOUBLE": {"double"},
    "VARCHAR": {"string"},
    "BOOLEAN": {"boolean"},
    "DATE": {"date"},
    "TIMESTAMP": {"timestamp", "timestamp_ntz"},
    "TIMESTAMP WITH TIME ZONE": {"timestamp"},
    "BLOB": {"binary"},
}
# Types with no hash-compatible Spark twin: always a defect in the SQL.
DUCK_FORBIDDEN = ("HUGEINT", "UHUGEINT", "DECIMAL")


def type_problems(duck_types: list, duck_cols: list[str],
                  spark_schema) -> list[str]:
    """Compare DuckDB result types against the Spark schema by column
    name. Returns human-readable problem strings (empty = compatible).
    Unknown DuckDB types (lists, structs) are skipped — value compare
    still covers them."""
    spark_by_name = {f.name: f.dataType.simpleString() for f in spark_schema}
    out = []
    for col, dt in zip(duck_cols, duck_types):
        dname = str(dt).upper()
        if any(dname.startswith(f) for f in DUCK_FORBIDDEN):
            out.append(f"oracle col {col!r} is {dname} (no Spark twin; "
                       f"CAST it in the SQL)")
            continue
        want = DUCK_TO_SPARK.get(dname)
        got = spark_by_name.get(col)
        if want is not None and got is not None and got not in want:
            out.append(f"col {col!r}: oracle {dname} vs spark {got}")
    return out


def canon(val) -> str:
    if val is None:
        return "NULL"
    if isinstance(val, float):
        if math.isnan(val):
            return "NaN"
        # repr round-trips doubles exactly; -0.0 folded to 0.0
        return repr(val + 0.0 if val == 0 else val)
    return repr(val)


def frame_sig(cols: list[str], rows: list[tuple]) -> tuple:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    names = [cols[i] for i in order]
    body = sorted("|".join(canon(r[i]) for i in order) for r in rows)
    return names, body


def connect(sf_dir: str = SF_DIR) -> duckdb.DuckDBPyConnection:
    """DuckDB connection with one view per testdata table of ``sf_dir``."""
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )
    return con


def compare(spark, con, name: str, fn, oracle: str | None,
            sf_dir: str = SF_DIR) -> tuple[str, str]:
    """Run one query on Spark and its oracle SQL on DuckDB and compare
    row count, column names, types and order-insensitive values.
    Returns ``(status, detail)`` with status ``ok``, ``rows`` (no
    oracle: row count only) or ``FAIL``."""
    t0 = time.time()
    try:
        sdf = fn(spark, sf_dir)
        scols = sdf.columns
        srows = [tuple(r) for r in sdf.collect()]
    except Exception as ex:
        return "FAIL", f"spark error: {str(ex)[:300]}"
    if oracle is None:
        return "rows", f"rows={len(srows)} ({time.time()-t0:.1f}s) [rows-only]"
    try:
        rel = con.sql(oracle)
        ocols = list(rel.columns)
        otypes = list(rel.types)
        orows = rel.fetchall()
    except Exception as ex:
        return "FAIL", f"duckdb error: {str(ex)[:300]}"
    sn, sb = frame_sig(scols, srows)
    on, ob = frame_sig(ocols, orows)
    problems = type_problems(otypes, ocols, sdf.schema)
    if len(srows) != len(orows):
        problems.append(f"rows {len(srows)} vs {len(orows)}")
    if sn != on:
        problems.append(f"schema {sn} vs {on}")
    if not problems and sb != ob:
        diffs = [(a, b) for a, b in zip(sb, ob) if a != b][:3]
        problems.append(f"values differ, first: {diffs}")
    if problems:
        return "FAIL", "; ".join(problems)
    return "ok", f"rows={len(srows)} ({time.time()-t0:.1f}s)"


def main() -> int:
    only = set(sys.argv[1:])
    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master("local[8]")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    con = connect()

    import __spark_entry__ as e

    qs, oracles = e.queries(), e.oracle_sql()
    counts = {"ok": 0, "FAIL": 0, "rows": 0}
    for name, fn in qs.items():
        if only and name not in only:
            continue
        status, detail = compare(spark, con, name, fn, oracles.get(name))
        print(f"{status:<5} {name}: {detail}")
        counts[status] += 1
    print(f"\n{counts['ok']} ok, {counts['FAIL']} fail, "
          f"{counts['rows']} rows-only")
    spark.stop()
    return 1 if counts["FAIL"] else 0


if __name__ == "__main__":
    sys.exit(main())
