"""The benchmark workloads.

Each workload is closed-loop with one sequential caller. ``prepare``
stages seeded inputs (untimed); ``cold_item`` is the first item a fresh
session runs (part of ``setup_s``); ``warm`` runs untimed passes that
also gate outputs; ``run_pass`` runs one full pass, gates its outputs
outside its timed region and returns its items; ``layers`` (traced runs
only) drives layer code in-process for the per-layer figures the driver
cannot see.
"""

from __future__ import annotations

import contextlib
import glob
import os
import random
import shutil
import sys
import time
import traceback
from dataclasses import dataclass, field

import fixtures
import pyarrow.parquet as pq
from check_correctness import value_hash


@dataclass
class Item:
    latency_s: float
    ok: bool = True
    kind: str = ""  # "book" or "sheet" (etl_load), the op name (analytics_ops)


@dataclass
class Pass:
    seconds: float
    items: list[Item]
    rows: int  # source rows committed (ETL) or result rows (analytics)


@dataclass
class Ctx:
    spark: object
    seed: int
    work: str
    tracer: object = None  # layertrace.Tracer while a traced pass runs
    extra: dict = field(default_factory=dict)

    @contextlib.contextmanager
    def span(self, name: str):
        if self.tracer is None:
            yield None
        else:
            with self.tracer.span(name) as rec:
                yield rec

    def group(self, gid: str | None) -> None:
        """Tag the jobs that follow with ``gid``, traced or not, so no
        job inherits the group of an earlier step; None clears it."""
        sc = self.spark.sparkContext
        if gid is None:
            sc.setLocalProperty("spark.jobGroup.id", None)
        else:
            sc.setJobGroup(gid, gid)
            self.extra.setdefault("groups", []).append(gid)


def _cli(argv: list[str]) -> None:
    """Run the CLI in-process (the session is shared via getOrCreate);
    its progress lines go to stderr so stdout ends with the result."""
    from xlsx_to_database_spark.__main__ import main

    with contextlib.redirect_stdout(sys.stderr):
        rc = main(argv)
    if rc != 0:
        raise RuntimeError(f"CLI exited {rc}: {argv}")


def _digest(rows, columns) -> tuple[int, str]:
    rows = [tuple(r) for r in rows]
    return len(rows), value_hash(rows, [c.lower() for c in columns])


def _dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(r, f)) for r, _, fs in os.walk(path) for f in fs
    )


def _arrow_rows(tbl) -> tuple[list[str], list[tuple]]:
    cols = tbl.column_names
    return cols, list(zip(*(tbl.column(c).to_pylist() for c in cols)))


def drive_xlsx_in_process(ctx: Ctx, book: str) -> dict[str, float]:
    """Run the xlsx source's driver-visible surface (``schema``,
    ``partitions``, ``read``) in this process on ``book`` under spans,
    then time the decode and coercion steps on their own. Inside Spark
    these run in Python workers, out of the tracer's sight."""
    from xlsx_to_database_spark.sources import infer, xlsx, xlsx_io

    tr = ctx.tracer
    first = len(tr.spans)
    src = xlsx.XlsxDataSource({"path": book})
    schema = src.schema()
    reader = src.reader(schema)
    parts = reader.partitions()
    n_rows = 0
    with tr.span("xlsx.read"):
        for p in parts:
            for _ in reader.read(p):
                n_rows += 1
    spans = tr.spans[first:]

    def tot(name):
        return sum(s["end"] - s["start"] for s in spans if s["name"] == name)

    # Decode alone, then coercion alone, on the same cells.
    wb = xlsx_io.read_workbook(book)
    try:
        t0 = time.perf_counter()
        rows = list(wb.iter_rows(parts[0].sheet))[1:]
        iter_s = time.perf_counter() - t0
    finally:
        wb.close()
    kinds = []
    for f in schema.fields:
        t = f.dataType.simpleString()
        kinds.append("long" if t == "bigint" else t)
    n_cols = len(kinds)
    t0 = time.perf_counter()
    coerced = [
        [infer.coerce(r[i] if i < len(r) else None, kinds[i]) for i in range(n_cols)]
        for r in rows
    ]
    coerce_s = time.perf_counter() - t0
    before = sum(v is not None for r in rows for v in r[:n_cols])
    after = sum(v is not None for r in coerced for v in r)
    cells = len(rows) * n_cols
    return {
        "xlsx_io.open_s": tot("xlsx_io.open"),
        "xlsx_io.shared_strings_s": tot("xlsx_io.shared_strings"),
        "xlsx_io.iter_rows_s": iter_s,
        "xlsx_io.cells_per_s": cells / iter_s,
        "xlsx_io.opens_per_load": sum(1 for s in spans if s["name"] == "xlsx_io.open"),
        "infer.infer_s": tot("infer.infer"),
        "infer.coerce_s": coerce_s,
        "infer.cells_nulled": before - after,
        "infer.cells_kept_ratio": after / before if before else 1.0,
        "xlsx.schema_s": tot("xlsx.schema"),
        "xlsx.partitions_s": tot("xlsx.partitions"),
        "xlsx.read_s": tot("xlsx.read"),
        "xlsx.partitions_per_load": len(parts),
        "_rows": n_rows,
    }


# ---------------------------------------------------------------------------
# etl_load
# ---------------------------------------------------------------------------


class EtlLoad:
    """One pass runs both shapes of the reference load, then reads every
    sink back:

    * many books: a string-heavy ``part`` table (unique ``p_name``,
      seeded order) is exported with ``df.write.format("xlsx")`` into
      BOOKS workbooks, and one CLI call loads them all into txn tables,
      one commit per workbook. Per-load fixed cost dominates.
    * big sheet: one single-sheet ``lineitem`` workbook (numeric, date
      and shared-string cells, seeded row order) is loaded by the CLI
      into embedded Derby with ``--mode truncate``. Decode, coercion and
      the Python-to-JVM hop dominate, in one task.

    An item is one workbook's load and commit."""

    name = "etl_load"
    SHEET_ROWS = 15_000
    PART_ROWS = 8_000
    BOOKS = 8
    TABLE = "lineitem_bench"
    KEY = "p_partkey"

    def prepare(self, ctx: Ctx) -> dict:
        import pyarrow as pa
        from xlsx_to_database_spark.sources import xlsx_io

        li = fixtures.make_tables(ctx.seed, self.SHEET_ROWS / 6_000_000, ("lineitem",))["lineitem"]
        li = fixtures.shuffled(li, ctx.seed)
        cols, rows = _arrow_rows(li)
        self.sheet = os.path.join(ctx.work, "lineitem.xlsx")
        xlsx_io.write_workbook(self.sheet, {"lineitem": (cols, rows)})
        self.sheet_digest = fixtures.table_digest(li)
        self.first_row = dict(zip(cols, rows[0]))
        self.url = f"jdbc:derby:{os.path.join(ctx.work, 'derby', 'bench')};create=true"

        part = fixtures.make_tables(ctx.seed, self.PART_ROWS / 200_000, ("part",))["part"]
        names = [f"{n} {k}" for n, k in zip(part.column("p_name").to_pylist(),
                                            part.column("p_partkey").to_pylist())]
        part = part.set_column(part.schema.get_field_index("p_name"), "p_name", pa.array(names))
        part = fixtures.shuffled(part, ctx.seed)
        self.part_src = os.path.join(ctx.work, "part.parquet")
        pq.write_table(part, self.part_src)
        self.part_digest = fixtures.table_digest(part)
        # One book's worth of rows, written in-process: the cold item
        # loads it, and the traced run times the writer on it.
        self.book_rows = _arrow_rows(part.slice(0, part.num_rows // self.BOOKS))
        self.cold_book = os.path.join(ctx.work, "cold_part.xlsx")
        xlsx_io.write_workbook(self.cold_book, {"part": self.book_rows})
        self._n_cold = 0
        self._install_commit_clock()
        return {
            "sheet_rows": li.num_rows, "sheet_cols": len(cols),
            "sheet_bytes": os.path.getsize(self.sheet), "sheet_digest": self.sheet_digest[1],
            "part_rows": part.num_rows, "books": self.BOOKS, "part_digest": self.part_digest[1],
        }

    def _install_commit_clock(self) -> None:
        """Record when each workbook's commit returns: the CLI loads all
        books in one call, so item boundaries are taken there."""
        from xlsx_to_database_spark import api

        orig = api.LoadedTable.to_txn_table
        times = self.commit_times = []

        def to_txn_table(self_, *a, **kw):
            v = orig(self_, *a, **kw)
            times.append(time.perf_counter())
            return v

        api.LoadedTable.to_txn_table = to_txn_table

    def cold_item(self, ctx: Ctx) -> None:
        self._n_cold += 1
        _cli([self.cold_book, "--txn-out", os.path.join(ctx.work, f"cold{self._n_cold}")])

    def warm(self, ctx: Ctx) -> list[bool]:
        """One untimed pass: after set-up the writer, JDBC and txn read
        paths are still cold. Its gates count like any other."""
        return [i.ok for i in self.run_pass(ctx, 0).items]

    def load_sheet(self) -> None:
        _cli([self.sheet, "--jdbc-url", self.url, "--table", self.TABLE, "--mode", "truncate"])

    def run_pass(self, ctx: Ctx, k: int) -> Pass:
        t0 = time.perf_counter()
        try:
            return self._pass(ctx, k)
        except Exception:  # noqa: BLE001 - a failed load fails the pass's items
            traceback.print_exc()
            dt = time.perf_counter() - t0
            return Pass(dt, [Item(dt, False, "book")] * self.BOOKS + [Item(dt, False, "sheet")], 0)

    def _pass(self, ctx: Ctx, k: int) -> Pass:
        from xlsx_to_database_spark.operators.txn_table import TxnTable
        from xlsx_to_database_spark.sources import sinks
        from xlsx_to_database_spark.sources.xlsx import register_xlsx_source

        register_xlsx_source(ctx.spark)
        out = os.path.join(ctx.work, f"books{k}")
        root = os.path.join(ctx.work, f"txn{k}")
        t0 = time.perf_counter()
        ctx.group(f"write-{k}")
        with ctx.span("bench.export"):
            (ctx.spark.read.parquet(self.part_src)
             .repartition(self.BOOKS, self.KEY)
             .write.format("xlsx").option("sheet", "part").mode("overwrite").save(out))
        books = sorted(glob.glob(os.path.join(out, "part-*.xlsx")))
        t_write = time.perf_counter()
        del self.commit_times[:]
        ctx.group(f"load-{k}")
        with ctx.span("bench.load"):
            _cli([*books, "--txn-out", root])
        commits = list(self.commit_times)
        t_books = time.perf_counter()
        with ctx.span("bench.load"):
            self.load_sheet()
        t_sheet = time.perf_counter()
        ctx.group(f"read-{k}")
        part_rows: list = []
        for d in sorted(os.listdir(root)):
            with ctx.span("txn_table.readback"):
                df = TxnTable(ctx.spark, os.path.join(root, d), self.KEY).read()
                part_rows.extend(df.collect())
            part_cols = df.columns
        db = sinks.from_database(ctx.spark, self.url, self.TABLE)
        sheet_rows = db.collect()
        t_end = time.perf_counter()

        books_ok = (len(commits) == len(books) == self.BOOKS
                    and _digest(part_rows, part_cols) == self.part_digest)
        sheet_ok = _digest(sheet_rows, db.columns) == self.sheet_digest
        lat = [b - a for a, b in zip([t_write] + commits[:-1], commits)]
        ctx.extra.setdefault("pass_parts", []).append({
            "export_s": t_write - t0, "books_s": t_books - t_write,
            "sheet_s": t_sheet - t_books, "readback_s": t_end - t_sheet,
            "txn_bytes": _dir_bytes(root),
        })
        shutil.rmtree(out, ignore_errors=True)
        shutil.rmtree(root, ignore_errors=True)
        items = [Item(x, books_ok, "book") for x in lat] + [Item(t_sheet - t_books, sheet_ok, "sheet")]
        rows = len(part_rows) * books_ok + len(sheet_rows) * sheet_ok
        return Pass(t_end - t0, items, rows)

    def layers(self, ctx: Ctx) -> dict[str, float]:
        """Decode-side figures from the big sheet; the shared-strings
        parse and the writer from one string-heavy book; the sink alone
        from a cached frame of the sheet's rows."""
        from xlsx_to_database_spark.sources import sinks, xlsx_io

        out = drive_xlsx_in_process(ctx, self.sheet)
        t0 = time.perf_counter()
        ctx.spark.read.format("xlsx").load(self.sheet).write.format("noop").mode("overwrite").save()
        out["xlsx.transfer_s"] = time.perf_counter() - t0 - out["xlsx.schema_s"] - out["xlsx.read_s"]
        out["xlsx_io.shared_strings_s"] = drive_xlsx_in_process(ctx, self.cold_book)[
            "xlsx_io.shared_strings_s"]
        t0 = time.perf_counter()
        xlsx_io.write_workbook(os.path.join(ctx.work, "write_probe.xlsx"), {"part": self.book_rows})
        out["xlsx_io.write_s"] = time.perf_counter() - t0

        df = ctx.spark.read.format("xlsx").load(self.sheet).cache()
        n = df.count()
        db = os.path.join(ctx.work, "derby", "sinkprobe")
        url = f"jdbc:derby:{db};create=true"
        sinks.to_database(df.limit(1), url, "probe_warm", mode="truncate")
        base = _dir_bytes(db)
        t0 = time.perf_counter()
        sinks.to_database(df, url, "probe", mode="truncate")
        sink_s = time.perf_counter() - t0
        out["sinks.to_database_s"] = sink_s
        out["sinks.rows_per_s"] = n / sink_s
        out["sinks.bytes_written"] = _dir_bytes(db) - base
        df.unpersist()
        return out


# ---------------------------------------------------------------------------
# analytics_ops
# ---------------------------------------------------------------------------

#: bench.HEADLINE ops left out: each writes fixed paths under /tmp
#: (stream source copies and checkpoints, txn-table staging, the
#: z-order sink), and the benchmark reads and writes only inside its
#: checkout.
WRITES_OUTSIDE_CHECKOUT = (
    "stream_tumbling",
    "parquet_zorder_sink",
    "table_merge_upsert",
    "table_delete_vectors",
)


class AnalyticsOps:
    """Every ``bench.HEADLINE`` op that stays inside the checkout, in a
    seeded order, each built and materialised into the noop sink."""

    name = "analytics_ops"
    #: TPC-H scale of the generated tables (60,000 lineitem rows). A run
    #: has to fit JVM start, three set-ups, the oracle-gated warm pass
    #: and several timed passes into about a minute; sf0.1 would not.
    SCALE = 0.01

    def prepare(self, ctx: Ctx) -> dict:
        import bench
        import duckdb
        from xlsx_to_database_spark.catalog import TABLES

        self.sf = fixtures.write_tables(
            fixtures.make_tables(ctx.seed, self.SCALE), os.path.join(ctx.work, "sf")
        )
        self.names = [n for n in bench.HEADLINE if n not in WRITES_OUTSIDE_CHECKOUT]
        # The set-up's cold item is the first op in HEADLINE order, the
        # same for every seed, so setup_s does not vary with the order.
        self.cold_op = self.names[0]
        random.Random(ctx.seed).shuffle(self.names)
        self.con = duckdb.connect()
        for t in TABLES:
            self.con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{self.sf}/{t}.parquet')"
            )
        self.result_rows: dict[str, int] = {}
        return {"ops": len(self.names), "order": self.names, "scale": self.SCALE}

    def _fns(self):
        from xlsx_to_database_spark.registry import all_queries

        qs = all_queries()
        return [(n, qs[n]) for n in self.names]

    def cold_item(self, ctx: Ctx) -> None:
        from xlsx_to_database_spark.registry import all_queries

        df = all_queries()[self.cold_op](ctx.spark, self.sf)
        df.write.format("noop").mode("overwrite").save()

    def warm(self, ctx: Ctx) -> list[bool]:
        """Two untimed passes. The first collects every op and gates it
        against its DuckDB oracle (row count + value hash); an op without
        an oracle must return rows, as in the mirror check. The second is
        the noop warm pass, so the timed passes start with every op's
        noop plan warm."""
        from xlsx_to_database_spark.registry import all_oracles

        oracles = all_oracles()
        results = []
        for name, fn in self._fns():
            try:
                df = fn(ctx.spark, self.sf)
                got = _digest(df.collect(), df.columns)
                self.result_rows[name] = got[0]
                if name in oracles:
                    cur = self.con.execute(oracles[name])
                    want = _digest(cur.fetchall(), [d[0] for d in cur.description])
                    ok = got == want
                else:
                    ok = got[0] > 0
            except Exception:  # noqa: BLE001 - a failing op is a failed item
                traceback.print_exc()
                ok = False
            if not ok:
                print(f"# check failed: {name}", file=sys.stderr)
            results.append(ok)
        return results + [i.ok for i in self.run_pass(ctx, 0).items]

    def run_pass(self, ctx: Ctx, k: int) -> Pass:
        items = []
        t0 = time.perf_counter()
        for name, fn in self._fns():
            ctx.group(f"op-{k}-{name}")
            s = time.perf_counter()
            try:
                with ctx.span("queries.build"):
                    df = fn(ctx.spark, self.sf)
                with ctx.span("queries.exec"):
                    df.write.format("noop").mode("overwrite").save()
                items.append(Item(time.perf_counter() - s, kind=name))
            except Exception:  # noqa: BLE001 - a failing op is a failed item
                traceback.print_exc()
                items.append(Item(time.perf_counter() - s, False, name))
        return Pass(time.perf_counter() - t0, items, sum(self.result_rows.values()))

    def layers(self, ctx: Ctx) -> dict[str, float]:
        return {}


WORKLOADS = {w.name: w for w in (EtlLoad, AnalyticsOps)}
