"""End-to-end: Engine facade + CLI + an executed JDBC round-trip.

The JDBC sink is not mocked — Spark ships Apache Derby's embedded driver
(for its Hive metastore), so `to_jdbc` writes a real database and
`from_database` reads it back: the reference tool's whole pipeline
(xlsx → typed rows → CREATE TABLE + batched INSERT) executed for real.
"""

from __future__ import annotations

import glob
import os
from datetime import datetime

import pytest

from xlsx_to_database_spark.sources.xlsx_io import write_workbook


@pytest.fixture()
def workbook(tmp_path):
    path = str(tmp_path / "sales data.xlsx")
    write_workbook(
        path,
        {
            "Sheet1": (
                ["Order ID", "Amount!", "When", "Done?"],
                [
                    (1, 12.5, datetime(2024, 1, 2), True),
                    (2, 99.0, datetime(2024, 2, 3), False),
                    (3, 7.25, datetime(2024, 3, 4), True),
                ],
            )
        },
    )
    return path


def test_engine_load_xlsx_types_and_naming(spark, workbook):
    from xlsx_to_database_spark.api import Engine

    eng = Engine(spark=spark)
    t = eng.load_xlsx(workbook)
    assert t.name == "sales_data"
    assert t.df.columns == ["order_id", "amount", "when", "done"]
    types = dict(t.df.dtypes)
    assert types == {
        "order_id": "bigint",
        "amount": "double",
        "when": "timestamp",
        "done": "boolean",
    }
    assert t.count() == 3


def test_jdbc_round_trip_via_derby(spark, workbook, tmp_path):
    from xlsx_to_database_spark.api import Engine
    from xlsx_to_database_spark.sources.sinks import from_database

    url = f"jdbc:derby:{tmp_path}/db;create=true"
    driver = "org.apache.derby.jdbc.EmbeddedDriver"
    eng = Engine(spark=spark)
    t = eng.load_xlsx(workbook)
    t.to_jdbc(url, mode="create", driver=driver)
    back = from_database(spark, url, t.name, driver=driver)
    assert back.count() == 3
    assert sorted(r.order_id for r in back.collect()) == [1, 2, 3]

    # append mode doubles the rows; truncate resets.
    t.to_jdbc(url, mode="append", driver=driver)
    assert from_database(spark, url, t.name, driver=driver).count() == 6
    t.to_jdbc(url, mode="truncate", driver=driver)
    assert from_database(spark, url, t.name, driver=driver).count() == 3

    # create mode on an existing table must refuse (reference semantics).
    with pytest.raises(Exception):
        t.to_jdbc(url, mode="create", driver=driver)


def test_cli_parquet_sink(spark, workbook, tmp_path, capsys):
    from xlsx_to_database_spark.__main__ import main

    out = str(tmp_path / "out_parquet")
    assert main([workbook, "--parquet-out", out]) == 0
    df = spark.read.parquet(out)
    assert df.count() == 3
    assert "order_id" in df.columns


def test_cli_requires_a_sink(workbook):
    from xlsx_to_database_spark.__main__ import main

    assert main([workbook]) == 2


def test_cli_txn_table_sink_versions(spark, workbook, tmp_path, capsys):
    """--txn-out creates the table on first load and appends on the
    next; the versioned reads see cumulative state (CLI → api → txn
    table end to end)."""
    from xlsx_to_database_spark.__main__ import main
    from xlsx_to_database_spark.operators.txn_table import TxnTable

    out = str(tmp_path / "ttbl")
    assert main([workbook, "--txn-out", out]) == 0
    assert main([workbook, "--txn-out", out]) == 0
    t = TxnTable(spark, out, "id")
    assert t.versions() == [0, 1]
    assert t.read(1).count() == 2 * t.read(0).count()


def _book(path, rows):
    write_workbook(str(path), {"Sheet1": (["id", "name"], rows)})
    return str(path)


def _table_rows(spark, path):
    from xlsx_to_database_spark.operators.txn_table import TxnTable

    t = TxnTable(spark, path, "id")
    return t, sorted(tuple(r) for r in t.read().collect())


DERBY = "org.apache.derby.jdbc.EmbeddedDriver"


def _sink_round_trip(spark, sink, tmp_path):
    """CLI sink arguments, a reader of one table back and the start of
    its report line, for one multi-workbook sink."""
    from xlsx_to_database_spark.sources.sinks import from_database

    if sink == "jdbc":
        # A fresh database: the concurrent loads boot and create it.
        url = f"jdbc:derby:{tmp_path}/db;create=true"
        return (["--jdbc-url", url, "--jdbc-driver", DERBY],
                lambda name: from_database(spark, url, name, driver=DERBY),
                lambda part, name: f"{part} -> {url} table={name}")
    root = str(tmp_path / "tables")
    if sink == "parquet":
        return (["--parquet-out", root],
                lambda name: spark.read.parquet(os.path.join(root, name)),
                lambda part, name: f"{part} -> {os.path.join(root, name)} ({name})")

    def read_txn(name):
        t, _ = _table_rows(spark, os.path.join(root, name))
        assert t.versions() == [0]
        return t.read()

    return (["--txn-out", root], read_txn,
            lambda part, name: f"{name}: committed version 0 at {os.path.join(root, name)}")


@pytest.mark.parametrize("sink", ["txn", "parquet", "jdbc"])
def test_cli_many_workbooks_round_trip(spark, tmp_path, capsys, sink):
    """A frame exported into part workbooks comes back whole from one
    multi-workbook CLI call into each sink: one table per part (at
    version 0 for txn tables), report lines in input order."""
    from xlsx_to_database_spark.__main__ import main
    from xlsx_to_database_spark.api import Engine, default_table_name

    Engine(spark=spark)  # registers the xlsx source for the writer
    src = spark.range(0, 90).selectExpr("id", "concat('n', id) AS name", "CAST(id AS DOUBLE) / 2 AS amount")
    out = str(tmp_path / "parts")
    src.repartition(3).write.format("xlsx").mode("overwrite").save(out)
    parts = sorted(glob.glob(os.path.join(out, "part-*.xlsx")))
    assert len(parts) == 3

    argv, read, line = _sink_round_trip(spark, sink, tmp_path)
    capsys.readouterr()
    assert main([*parts, *argv]) == 0
    names = [default_table_name(p) for p in parts]
    got = []
    for name in names:
        got.extend(tuple(r) for r in read(name).select("id", "name", "amount").collect())
    assert sorted(got) == sorted(tuple(r) for r in src.collect())
    assert capsys.readouterr().out.splitlines() == [line(p, n) for p, n in zip(parts, names)]


def test_cli_same_target_workbooks_commit_in_input_order(spark, tmp_path, capsys):
    """Two same-stem workbooks map to one table: the second appends
    version 1 onto the table the first created, as a one-by-one load
    does, while a third target loads beside them."""
    from xlsx_to_database_spark.__main__ import main

    (tmp_path / "a").mkdir()
    (tmp_path / "b").mkdir()
    first = [(i, f"a{i}") for i in range(5)]
    second = [(i, f"b{i}") for i in range(5, 12)]
    a = _book(tmp_path / "a" / "part.xlsx", first)
    other = _book(tmp_path / "other.xlsx", [(99, "o")])
    b = _book(tmp_path / "b" / "part.xlsx", second)
    root = str(tmp_path / "tables")
    assert main([a, other, b, "--txn-out", root]) == 0

    t, rows = _table_rows(spark, os.path.join(root, "part"))
    assert t.versions() == [0, 1]
    assert sorted(tuple(r) for r in t.read(0).collect()) == first
    assert rows == sorted(first + second)
    assert _table_rows(spark, os.path.join(root, "other"))[1] == [(99, "o")]
    lines = capsys.readouterr().out.splitlines()
    assert [ln.split(" at ")[0] for ln in lines] == [
        "part: committed version 0",
        "other: committed version 0",
        "part: committed version 1",
    ]


def test_cli_bad_workbook_raises_and_keeps_committed_loads(spark, tmp_path, capsys):
    """A non-zip .xlsx among valid workbooks makes the call raise; the
    loads that committed read back whole and print in input order, and
    the bad workbook leaves no table behind."""
    from xlsx_to_database_spark.__main__ import main

    good = {
        f"good{k}": _book(tmp_path / f"good{k}.xlsx", [(i, f"g{k}_{i}") for i in range(10 * k)])
        for k in (1, 2, 3)
    }
    bad = tmp_path / "bad.xlsx"
    bad.write_bytes(b"this is not a zip archive")
    root = str(tmp_path / "tables")
    capsys.readouterr()
    with pytest.raises(Exception):
        main([good["good1"], str(bad), good["good2"], good["good3"], "--txn-out", root])

    assert not os.path.exists(os.path.join(root, "bad", "_txn_log"))
    committed = [n for n in good if os.path.isdir(os.path.join(root, n, "_txn_log"))]
    # The first workbook starts before the bad one, so it always commits.
    assert committed[0] == "good1"
    for n in committed:
        k = int(n[-1])
        t, rows = _table_rows(spark, os.path.join(root, n))
        assert t.versions() == [0]
        assert rows == [(i, f"g{k}_{i}") for i in range(10 * k)]
    lines = capsys.readouterr().out.splitlines()
    assert [ln.split(":")[0] for ln in lines] == committed


def test_cli_many_workbooks_run_under_the_callers_job_group(spark, tmp_path):
    """Every load's jobs carry the caller's job group, although the
    loads run on pool threads."""
    from xlsx_to_database_spark.__main__ import main

    sc = spark.sparkContext
    books = [_book(tmp_path / f"book{k}.xlsx", [(k, f"r{k}")]) for k in range(3)]
    try:
        sc.setJobGroup("cli-one", "one load")
        assert main([books[0], "--txn-out", str(tmp_path / "one")]) == 0
        sc.setJobGroup("cli-many", "three loads")
        assert main([*books, "--txn-out", str(tmp_path / "many")]) == 0
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
        sc.setLocalProperty("spark.job.interruptOnCancel", None)
    st = sc.statusTracker()
    per_load = len(st.getJobIdsForGroup("cli-one"))
    assert per_load > 0
    assert len(st.getJobIdsForGroup("cli-many")) == 3 * per_load


def test_cli_many_workbooks_without_pinned_threads(spark, tmp_path, monkeypatch):
    """Outside pinned-thread mode `inheritable_thread_target(session)`
    returns the session itself; the loads then run on the bare task."""
    import pyspark.util

    from xlsx_to_database_spark.__main__ import main

    monkeypatch.setattr(pyspark.util, "inheritable_thread_target", lambda f: f)
    books = [_book(tmp_path / f"book{k}.xlsx", [(k, f"r{k}")]) for k in range(2)]
    root = str(tmp_path / "tables")
    assert main([*books, "--txn-out", root]) == 0
    for k in range(2):
        assert _table_rows(spark, os.path.join(root, f"book{k}"))[1] == [(k, f"r{k}")]


def test_cli_many_workbooks_report_each_load_once_committed(spark, monkeypatch, capsys):
    """A load's report line prints as soon as it and every earlier load
    have committed, not when the whole call ends."""
    import builtins
    import threading

    from xlsx_to_database_spark import __main__ as cli

    printed = threading.Event()

    def load_one(eng, args, path, multi):
        if path == "b.xlsx":
            assert printed.wait(10), "a.xlsx was not reported before b.xlsx finished"
        return [f"{path} loaded"]

    def print_(*a, **kw):
        builtins.print(*a, **kw)
        printed.set()

    monkeypatch.setattr(cli, "_load_one", load_one)
    monkeypatch.setattr(cli, "print", print_, raising=False)
    assert cli.main(["a.xlsx", "b.xlsx", "--txn-out", "unused"]) == 0
    assert capsys.readouterr().out.splitlines() == ["a.xlsx loaded", "b.xlsx loaded"]
