"""Local replica of the driver's t2 correctness gate.

Runs every ``__spark_entry__.queries()`` entry on Spark and its
``oracle_sql()`` twin on DuckDB (same parquet tables), then compares
row count, column names, and an order-insensitive value hash.

Usage: python tools/check_oracle.py [sf_dir] [query ...]
"""

from __future__ import annotations

import hashlib
import math
import sys
from datetime import date, datetime
from pathlib import Path

import duckdb

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

TABLES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]


def _norm_cell(v):
    if v is None:
        return "NULL"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        # exact round-trip form: strictly stricter than any plausible
        # driver normalizer — a pass here means the doubles are
        # BIT-IDENTICAL across engines, not merely close
        return repr(v)
    if isinstance(v, (datetime, date)):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_norm_cell(x) for x in v) + "]"
    if isinstance(v, bytes):
        return v.hex()
    return str(v)


def value_hash(rows: list[tuple], columns: list[str]) -> str:
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    lines = sorted(
        "\x01".join(_norm_cell(r[i]) for i in order) for r in rows
    )
    h = hashlib.sha256()
    for line in lines:
        h.update(line.encode())
        h.update(b"\n")
    return h.hexdigest()


def _coarse_spark(dt) -> str:
    from pyspark.sql import types as T

    if isinstance(dt, (T.ByteType, T.ShortType, T.IntegerType, T.LongType)):
        return "int"
    if isinstance(dt, (T.FloatType, T.DoubleType)):
        return "float"
    if isinstance(dt, T.DecimalType):
        return "decimal"
    if isinstance(dt, T.StringType):
        return "str"
    if isinstance(dt, T.BooleanType):
        return "bool"
    if isinstance(dt, (T.TimestampType, T.TimestampNTZType)):
        return "ts"
    if isinstance(dt, T.DateType):
        return "date"
    if isinstance(dt, T.ArrayType):
        return "list:" + _coarse_spark(dt.elementType)
    return str(dt)


def _coarse_arrow(t) -> str:
    import pyarrow as pa

    if pa.types.is_integer(t):
        return "int"
    if pa.types.is_floating(t):
        return "float"
    if pa.types.is_decimal(t):
        # DuckDB HUGEINT (bare SUM(BIGINT/INT)) and DECIMAL both land
        # here — the driver's hasher renders these differently from
        # Spark BIGINT/DOUBLE, so any 'decimal' on the oracle side that
        # isn't decimal on the Spark side is a latent hash-FAIL.
        return "decimal"
    if pa.types.is_string(t) or pa.types.is_large_string(t):
        return "str"
    if pa.types.is_boolean(t):
        return "bool"
    if pa.types.is_timestamp(t):
        return "ts"
    if pa.types.is_date(t):
        return "date"
    if pa.types.is_list(t) or pa.types.is_large_list(t):
        return "list:" + _coarse_arrow(t.value_type)
    return str(t)


def type_drift(sdf_schema, arrow_schema) -> list[str]:
    """Columns whose coarse type differs between Spark and DuckDB.

    Catches the HUGEINT/DECIMAL class of cross-engine hash failures
    that fetchall() (Python ints) masks.
    """
    spark_types = {f.name: _coarse_spark(f.dataType) for f in sdf_schema.fields}
    drifts = []
    for field in arrow_schema:
        st = spark_types.get(field.name)
        at = _coarse_arrow(field.type)
        if st is not None and st != at:
            drifts.append(f"{field.name}: spark={st} duckdb={at}")
    return drifts


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    import __spark_entry__ as entry_mod
    from rigatoni_spark.session import get_spark

    spark = get_spark(app_name="check_oracle")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )

    queries = entry_mod.queries()
    oracles = entry_mod.oracle_sql()
    # a requested name the catalog does not have is a failure, never a
    # silent skip: a typo would otherwise print "0 failures" for rows
    # that never ran
    failures = sorted(only - queries.keys())
    for name in failures:
        print(f"FAIL  {name}: unknown query (not in __spark_entry__.queries())")
    for name, fn in queries.items():
        if only and name not in only:
            continue
        try:
            sdf = fn(spark, sf_dir)
            srows = [tuple(r) for r in sdf.collect()]
            scols = list(sdf.columns)
        except Exception as e:  # noqa: BLE001
            failures.append(name)
            print(f"FAIL  {name}: spark error: {e}")
            continue
        if name not in oracles:
            print(f"rows-only  {name}: {len(srows)} rows (no oracle)")
            continue
        try:
            oarrow = con.execute(oracles[name]).arrow()
            ocols = oarrow.schema.names
            orows = [
                tuple(oarrow.column(i)[r].as_py() for i in range(oarrow.num_columns))
                for r in range(oarrow.num_rows)
            ]
        except Exception as e:  # noqa: BLE001
            failures.append(name)
            print(f"FAIL  {name}: duckdb error: {e}")
            continue
        ok_count = len(srows) == len(orows)
        ok_cols = sorted(scols) == sorted(ocols)
        drifts = type_drift(sdf.schema, oarrow.schema)
        ok_hash = (
            value_hash(srows, scols) == value_hash(orows, ocols)
            if ok_count and ok_cols
            else False
        )
        status = "OK   " if (ok_count and ok_cols and ok_hash and not drifts) else "FAIL "
        if status.startswith("FAIL"):
            failures.append(name)
        print(
            f"{status} {name}: rows {len(srows)}/{len(orows)}"
            f" cols={'ok' if ok_cols else f'{sorted(scols)} vs {sorted(ocols)}'}"
            f" hash={'ok' if ok_hash else 'MISMATCH'}"
            + (f" TYPE-DRIFT[{'; '.join(drifts)}]" if drifts else "")
        )
        if not ok_hash and ok_count and ok_cols and len(srows) <= 20:
            order = sorted(range(len(scols)), key=lambda i: scols[i])
            s_lines = sorted("|".join(_norm_cell(r[i]) for i in order) for r in srows)
            oorder = sorted(range(len(ocols)), key=lambda i: ocols[i])
            o_lines = sorted("|".join(_norm_cell(r[i]) for i in oorder) for r in orows)
            for a, b in zip(s_lines, o_lines):
                if a != b:
                    print(f"   spark : {a}\n   duckdb: {b}")
    print(f"\n{len(failures)} failures" + (f": {failures}" if failures else ""))
    spark.stop()
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
