"""Layer tracing for ``--trace 1`` runs.

Spans (name, start, end, parent, item) are recorded around calls into
each layer's functions by wrappers the benchmark installs on the
program's modules; they stay in memory and are written as JSON at exit.
A layer's self time is its spans' time minus the time its child spans
cover. py4j round-trips are counted by a wrapper on the gateway
client's ``send_command``; jobs, stages and tasks come from
``statusTracker()`` per job group (one group per item).
"""

from __future__ import annotations

import functools
import json
import time
from contextlib import contextmanager


class Tracer:
    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.item: str | None = None
        self.py4j_calls = 0
        self._undo: list = []

    # -- spans ---------------------------------------------------------

    @contextmanager
    def span(self, name: str):
        idx = len(self.spans)
        rec = {
            "name": name, "start": time.perf_counter(), "end": None,
            "parent": self._stack[-1] if self._stack else None,
            "item": self.item, "py4j": self.py4j_calls,
        }
        self.spans.append(rec)
        self._stack.append(idx)
        try:
            yield rec
        except BaseException:
            rec["error"] = True
            raise
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()
            rec["py4j"] = self.py4j_calls - rec["py4j"]

    def self_times(self) -> dict[str, float]:
        """Per layer (the span name's prefix before the first ``.``):
        span time minus the time of its direct children."""
        child = [0.0] * len(self.spans)
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        out: dict[str, float] = {}
        for s, c in zip(self.spans, child):
            layer = s["name"].split(".", 1)[0]
            out[layer] = out.get(layer, 0.0) + (s["end"] - s["start"]) - c
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f)

    # -- wrappers ------------------------------------------------------

    def wrap(self, owner, attr: str, name: str) -> None:
        """Replace ``owner.attr`` (a function, method or property) by a
        version that records a span per call; ``restore`` undoes it."""
        orig = owner.__dict__[attr] if isinstance(owner, type) else getattr(owner, attr)
        tracer = self
        if isinstance(orig, property):
            fget = orig.fget

            @functools.wraps(fget)
            def getter(obj):
                with tracer.span(name):
                    return fget(obj)

            new = property(getter, orig.fset, orig.fdel, orig.__doc__)
        else:

            @functools.wraps(orig)
            def new(*a, **kw):
                with tracer.span(name):
                    return orig(*a, **kw)

        setattr(owner, attr, new)
        self._undo.append((owner, attr, orig))

    def count_py4j(self, spark) -> None:
        client = spark.sparkContext._gateway._gateway_client
        orig = client.send_command
        tracer = self

        def send_command(*a, **kw):
            tracer.py4j_calls += 1
            return orig(*a, **kw)

        client.send_command = send_command
        self._undo.append((client, "send_command", None))

    def restore(self) -> None:
        for owner, attr, orig in reversed(self._undo):
            if orig is None:
                delattr(owner, attr)
            else:
                setattr(owner, attr, orig)
        self._undo.clear()


def install(tracer: Tracer) -> None:
    """Wrap the layer entry points the per-layer metrics read."""
    from xlsx_to_database_spark import api
    from xlsx_to_database_spark.operators import txn_table
    from xlsx_to_database_spark.sources import infer, sinks, xlsx, xlsx_io

    tracer.wrap(xlsx_io, "read_workbook", "xlsx_io.open")
    tracer.wrap(xlsx_io.Workbook, "shared_strings", "xlsx_io.shared_strings")
    tracer.wrap(xlsx_io, "write_workbook", "xlsx_io.write")
    tracer.wrap(infer, "infer_column_kinds", "infer.infer")
    tracer.wrap(xlsx.XlsxDataSource, "schema", "xlsx.schema")
    tracer.wrap(xlsx.XlsxReader, "partitions", "xlsx.partitions")
    tracer.wrap(sinks, "to_database", "sinks.to_database")
    tracer.wrap(sinks, "from_database", "sinks.from_database")
    tracer.wrap(txn_table.TxnTable, "create", "txn_table.create")
    tracer.wrap(txn_table.TxnTable, "read", "txn_table.read")
    tracer.wrap(txn_table.TxnTable, "_commit", "txn_table.commit")
    tracer.wrap(api.Engine, "load_xlsx", "api.load_xlsx")
    tracer.wrap(api.LoadedTable, "to_jdbc", "api.to_jdbc")
    tracer.wrap(api.LoadedTable, "to_txn_table", "api.to_txn_table")


class JobStats:
    """Jobs / stages / tasks of one job group, from the status tracker."""

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext

    def of_group(self, group: str) -> dict[str, int]:
        st = self.sc.statusTracker()
        jobs = st.getJobIdsForGroup(group)
        stages = tasks = failed = 0
        for jid in jobs:
            info = st.getJobInfo(jid)
            if info is None:
                continue
            for sid in info.stageIds:
                s = st.getStageInfo(sid)
                if s is None:
                    continue
                stages += 1
                tasks += s.numTasks
                failed += s.numFailedTasks
        return {"jobs": len(jobs), "stages": stages, "tasks": tasks, "failed_tasks": failed}
