"""Proof that the correctness gate bites.

Runs two small ``etl_load`` passes. In the second, one row is deleted
from the Derby sink table right after the big-sheet load, before the
pass reads it back. The clean pass must report no failed item and the
corrupted pass exactly one (the big-sheet item). Exit code 0 iff both
hold.
"""

from __future__ import annotations

import json

from workloads import Ctx, EtlLoad


def drop_one_row(spark, url: str, table: str, row: dict) -> int:
    """Delete the sink row matching ``row``'s key columns over JDBC."""
    conn = spark._jvm.java.sql.DriverManager.getConnection(url)
    try:
        where = " AND ".join(f'"{c}" = {row[c]!r}' for c in
                             ("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
                              "l_extendedprice"))
        return conn.createStatement().executeUpdate(f"DELETE FROM {table} WHERE {where}")
    finally:
        conn.close()


def main(work: str) -> int:
    from xlsx_to_database_spark.session import get_spark

    wl = EtlLoad()
    wl.SHEET_ROWS, wl.PART_ROWS, wl.BOOKS = 2_000, 400, 2
    ctx = Ctx(None, 7, work)
    wl.prepare(ctx)
    ctx.spark = get_spark("perfbench-selftest")
    clean = wl.run_pass(ctx, 1)

    load = wl.load_sheet

    def corrupted_load() -> None:
        load()
        wl.dropped = drop_one_row(ctx.spark, wl.url, wl.TABLE, wl.first_row)

    wl.load_sheet = corrupted_load
    bad = wl.run_pass(ctx, 2)
    failed_clean = sum(not i.ok for i in clean.items)
    failed_kinds = [i.kind for i in bad.items if not i.ok]
    ok = failed_clean == 0 and wl.dropped == 1 and failed_kinds == ["sheet"]
    print(json.dumps({
        "selftest": "pass" if ok else "FAIL",
        "clean_failed_items": failed_clean,
        "rows_dropped": wl.dropped,
        "corrupted_failed_items": failed_kinds,
    }))
    return 0 if ok else 1
