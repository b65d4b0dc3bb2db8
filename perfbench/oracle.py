"""DuckDB oracle side of the check: every registry entry's
``oracle_sql()`` over the same parquet tables, compared with the Spark
result the way tests/conftest.py does it — column names, row count and
the order-insensitive multiset of type-strict canonical values."""

from __future__ import annotations

import datetime
import decimal
import math
from collections import Counter

from mapreduceece563_spark.sources.catalog import TABLES


def duck_results(tables_dir: str, sqls: dict[str, str]) -> dict:
    """Run each oracle query: name -> Arrow table, or the exception."""
    import duckdb

    out: dict = {}
    con = duckdb.connect()
    try:
        for name in TABLES:
            con.execute(
                f"CREATE VIEW {name} AS SELECT * FROM '{tables_dir}/{name}.parquet'"
            )
        for name, sql in sqls.items():
            try:
                # through Arrow: fetchall() would turn HUGEINT into int
                # and hide integer-width divergence
                out[name] = con.execute(sql).fetch_arrow_table()
            except Exception as exc:  # noqa: BLE001 - reported as a mismatch
                out[name] = exc
    finally:
        con.close()
    return out


def canon(v) -> str:
    """Type-strict, sortable rendering of one cell."""
    if v is None:
        return "\x00null"
    if isinstance(v, bool):
        return f"b:{v!r}"
    if isinstance(v, decimal.Decimal):
        return f"dec:{v}"
    if isinstance(v, float):
        return "f:nan" if math.isnan(v) else f"f:{round(v, 9)!r}"
    if isinstance(v, int):
        return f"i:{v!r}"
    if isinstance(v, datetime.datetime):
        return f"t:{v.isoformat()}"
    if isinstance(v, (list, tuple)):
        return "l:" + ",".join(canon(x) for x in v)
    return f"{type(v).__name__[0]}:{v!r}"


def compare(columns: list[str], rows: list, table) -> str | None:
    """None when the Spark rows equal the oracle table, else why not."""
    cols = sorted(columns)
    if cols != sorted(table.column_names):
        return f"columns differ: spark={cols} oracle={sorted(table.column_names)}"
    if len(rows) != table.num_rows:
        return f"row count differs: spark={len(rows)} oracle={table.num_rows}"
    idx = [columns.index(c) for c in cols]
    got = Counter(tuple(canon(r[i]) for i in idx) for r in rows)
    data = [table.column(c).to_pylist() for c in cols]
    want = Counter(tuple(canon(col[j]) for col in data) for j in range(table.num_rows))
    if got != want:
        return f"{sum((got - want).values())} of {len(rows)} rows differ"
    return None
