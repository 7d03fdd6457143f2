"""CLI: load xlsx workbooks into a database or parquet lake.

    python -m xlsx_to_database_spark book.xlsx --jdbc-url jdbc:... [--table t]
    python -m xlsx_to_database_spark book.xlsx --parquet-out /lake/dir
    python -m xlsx_to_database_spark book.xlsx --show   # print sample + schema

Mirrors the reference tool's CLI surface (SURVEY.md §0 item 6: connection
string, table naming from file/sheet, sheet filter, header toggle, write
mode) on Spark execution.

Several workbooks load concurrently, up to the session's default
parallelism and the host's core count; loads into the same target run
in input order.
"""

from __future__ import annotations

import argparse
import os
import sys


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(
        prog="xlsx_to_database_spark",
        description="Load xlsx worksheets into database tables (Spark-backed).",
    )
    p.add_argument("workbook", nargs="+", help="xlsx file path(s)")
    p.add_argument("--sheet", default=None, help="sheet name, comma list, or '*' (default: first)")
    p.add_argument("--no-header", action="store_true", help="first row is data, not column names")
    p.add_argument("--no-sanitize", action="store_true", help="keep header text as column names")
    p.add_argument("--schema", default=None, help="DDL schema override (skip inference)")
    p.add_argument("--mode", default="create", choices=["create", "append", "truncate", "overwrite"])
    sink = p.add_argument_group("sink (choose one)")
    sink.add_argument("--jdbc-url", default=None, help="JDBC connection string")
    sink.add_argument("--jdbc-driver", default=None, help="JDBC driver class, if not inferable")
    sink.add_argument("--parquet-out", default=None, help="parquet output directory")
    sink.add_argument("--txn-out", default=None, help="transaction-logged table root (versioned, time-travelable)")
    sink.add_argument("--show", action="store_true", help="print schema + first rows, write nothing")
    p.add_argument("--table", default=None, help="target table (default: from file/sheet name)")
    p.add_argument("--partition-by", default=None, help="comma list of parquet partition columns")
    p.add_argument("--txn-key", default=None, help="stats/clustering column for --txn-out (default: first column)")
    return p


def main(argv: list[str] | None = None) -> int:
    args = build_parser().parse_args(argv)
    if not (args.jdbc_url or args.parquet_out or args.txn_out or args.show):
        print("error: pick a sink: --jdbc-url, --parquet-out, --txn-out, or --show", file=sys.stderr)
        return 2

    from xlsx_to_database_spark.api import Engine

    eng = Engine(app_name="xlsx_to_database_cli")
    multi = len(args.workbook) > 1
    if multi and args.table:
        # One explicit table + many workbooks would make every file fight
        # over the same target (create fails, overwrite keeps only the
        # last); per-file default names are the reference behavior.
        print("error: --table with multiple workbooks; omit it to name per file", file=sys.stderr)
        return 2
    if multi and not args.show:
        _load_concurrently(eng, args)
        return 0
    for path in args.workbook:
        for line in _load_one(eng, args, path, multi):
            print(line)
    return 0


def _load_one(eng, args, path: str, multi: bool) -> list[str]:
    """Load one workbook into the chosen sink; returns its report lines."""
    t = eng.load_xlsx(
        path,
        sheet=args.sheet,
        header=not args.no_header,
        sanitize=not args.no_sanitize,
        schema=args.schema,
    )
    if args.show:
        t.df.printSchema()
        t.df.show(20, truncate=False)
        return []
    if args.txn_out:
        # create the first time, append after — per-file versions
        # when loading many workbooks into one table root.
        out = os.path.join(args.txn_out, t.name) if multi else args.txn_out
        exists = os.path.isdir(os.path.join(out, "_txn_log"))
        mode = "append" if (exists or args.mode == "append") else "create"
        v = t.to_txn_table(out, key=args.txn_key, mode=mode)
        return [f"{t.name}: committed version {v} at {out}"]
    lines = []
    if args.parquet_out:
        from xlsx_to_database_spark.sources.sinks import MODE_MAP

        part = args.partition_by.split(",") if args.partition_by else None
        # Multiple workbooks each get their own subdirectory; a single
        # shared directory would error (create) or clobber (overwrite).
        out = os.path.join(args.parquet_out, t.name) if multi else args.parquet_out
        t.to_parquet(out, mode=MODE_MAP[args.mode], partition_by=part)
        lines.append(f"{path} -> {out} ({t.name})")
    if args.jdbc_url:
        kw = {"driver": args.jdbc_driver} if args.jdbc_driver else {}
        t.to_jdbc(args.jdbc_url, table=args.table, mode=args.mode, **kw)
        lines.append(f"{path} -> {args.jdbc_url} table={args.table or t.name}")
    return lines


def _load_concurrently(eng, args) -> None:
    """Load several workbooks from a pool of up to defaultParallelism
    threads, and no more threads than the host has cores. Each load is
    one single-task Spark job whose cost is mostly fixed latency, so
    loads in flight together overlap it.

    Workbooks are grouped by target (the table name, which also names
    the --txn-out / --parquet-out subdirectory); a group runs in input
    order inside one task, so a second same-stem workbook still appends
    to the table the first created. Report lines print in input order,
    each as soon as its load and every earlier one have committed. After
    a failure, groups not yet started are cancelled and running ones
    finish; the lines of every committed load print, and the failure
    first in input order is re-raised."""
    import threading
    from concurrent.futures import FIRST_EXCEPTION, ThreadPoolExecutor, wait

    from pyspark.util import inheritable_thread_target

    from xlsx_to_database_spark.api import default_table_name

    paths = args.workbook
    groups: dict[str, list[int]] = {}
    for i, path in enumerate(paths):
        groups.setdefault(default_table_name(path, args.sheet), []).append(i)
    lines: list[list[str] | None] = [None] * len(paths)  # None: not committed
    errors: dict[int, BaseException] = {}
    lock = threading.Lock()
    printed = 0

    def report(finished: bool = False) -> None:
        # Print the committed prefix; once every load has stopped, the rest.
        nonlocal printed
        while printed < len(paths) and (finished or lines[printed] is not None):
            for line in lines[printed] or ():
                print(line)
            printed += 1

    def run_group(idx: list[int]) -> None:
        for i in idx:
            try:
                out = _load_one(eng, args, paths[i], True)
            except BaseException as e:
                errors[i] = e
                raise
            with lock:
                lines[i] = out
                report()

    def inherit(fn):
        # Gives fn a copy of the caller's local properties (job group,
        # scheduler pool), taken now. Called once per task: Spark writes
        # each SQL execution's id into them, so concurrent tasks must not
        # share one copy. Outside pinned-thread mode PySpark cannot copy
        # them and returns the session itself, not a decorator.
        wrap = inheritable_thread_target(eng.spark)
        return wrap(fn) if callable(wrap) else fn

    width = min(len(groups), eng.spark.sparkContext.defaultParallelism, os.cpu_count() or 1)
    pool = ThreadPoolExecutor(max_workers=width)
    try:
        futures = [pool.submit(inherit(run_group), idx) for idx in groups.values()]
        wait(futures, return_when=FIRST_EXCEPTION)
    finally:
        pool.shutdown(cancel_futures=True)
        with lock:
            report(finished=True)
    if errors:
        raise errors[min(errors)]


if __name__ == "__main__":
    raise SystemExit(main())
