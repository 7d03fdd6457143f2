"""Benchmark of the xlsx -> database load path and the analytics-op suite.

    python3 perfbench/run.py --workload etl_load --seed 1 --seconds 15 --trace 0
    python3 perfbench/run.py --self-test

Run from the repository root. Inputs are generated from ``--seed``
(``fixtures.py``); all scratch files live under ``.perfbench_work/`` and
are removed at exit; span dumps and run records go to
``.perfbench_out/``. The last line of stdout is one JSON object with
``correct``, ``attempted``, ``failed`` and ``metrics``: the end-to-end
metrics with ``--trace 0``, the per-layer metrics with ``--trace 1``.
``BENCHMARK.json`` lists both; ``perfbench/NOTES.md`` maps each layer
metric to the end-to-end metric and workload it should move.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

import layertrace

HERE = os.path.dirname(os.path.abspath(__file__))

#: Set-ups per run (session start + first cold item); setup_s and
#: session.start_s are their medians. Only the first launches the JVM,
#: the others restart the SparkContext in it, so both medians read a
#: warm-JVM restart; the launch is reported as session.jvm_launch_s.
SETUPS = 3


def metric_units(root: str) -> tuple[dict, dict]:
    """Name -> unit of the end-to-end and of the per-layer metrics, as
    ``BENCHMARK.json`` declares them."""
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return ({m["name"]: m["unit"] for m in spec["end_to_end"]},
            {m["name"]: m["unit"] for m in spec["per_layer"]})


def program_present(root: str) -> bool:
    return all(
        os.path.exists(os.path.join(root, p))
        for p in ("xlsx_to_database_spark/__init__.py", "bench.py", "tools/check_correctness.py")
    )


def size_to_host(root: str, work: str) -> dict:
    """Run on local[nproc] with a driver heap that fits physical RAM;
    export PYTHONPATH so Spark's Python workers import the package, and
    keep every temp and Derby file inside ``work``."""
    cpus = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as f:
        mem_mb = next(int(line.split()[1]) for line in f if line.startswith("MemTotal")) // 1024
    driver_mb = max(1024, min(4096, mem_mb // 4))
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    derby = os.path.join(work, "derby")
    os.makedirs(derby)
    # -XX:-UsePerfData: no hsperfdata file in the system temp directory.
    java_opts = (
        f"-XX:-UsePerfData -Djava.io.tmpdir={tmp} -Dderby.system.home={derby} "
        f"-Dderby.stream.error.file={os.path.join(derby, 'derby.log')}"
    )
    old_pp = os.environ.get("PYTHONPATH")
    os.environ.update(
        SPARK_GRAFT_CPUS=str(cpus),
        SPARK_GRAFT_DRIVER_MEM=f"{driver_mb}m",
        PYTHONPATH=root + (os.pathsep + old_pp if old_pp else ""),
        TZ="UTC",
        TMPDIR=tmp,
        SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"),
        PYSPARK_SUBMIT_ARGS=f'--driver-java-options "{java_opts}" pyspark-shell',
    )
    time.tzset()
    return {"cpus": cpus, "driver_mem_mb": driver_mb, "host_mem_mb": mem_mb}


def vm_hwm_kb(pid: int | str) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            return next(int(line.split()[1]) for line in f if line.startswith("VmHWM"))
    except (OSError, StopIteration):
        return 0


def tail(items: list) -> dict:
    """The item at the highest percentile with at least 10 samples
    beyond it (the slowest one below 11 samples, where no percentile has
    10 beyond it): its latency, the percentile, the sample count and the
    item's kind."""
    xs = sorted(items, key=lambda i: i.latency_s)
    n = len(xs)
    k = n - 11 if n >= 11 else n - 1
    return {"value": xs[k].latency_s, "percentile": 100.0 * (k + 1) / n, "samples": n,
            "kind": xs[k].kind}


def shutdown_spark() -> None:
    """Stop the session and the JVM it runs in, and wait for it."""
    from py4j.protocol import Py4JError
    from pyspark import SparkContext

    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    try:
        gw.shutdown()
    except Py4JError:  # the JVM is already gone
        pass
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


@contextlib.contextmanager
def traced(ctx, tracer):
    """Install the layer wrappers and the py4j counter for one block."""
    layertrace.install(tracer)
    tracer.count_py4j(ctx.spark)
    ctx.tracer = tracer
    try:
        yield
    finally:
        tracer.restore()
        ctx.tracer = None


def measure(wl, ctx, seconds: float, tracer=None) -> tuple[list, list]:
    """Closed loop: passes until ``seconds`` have elapsed, at least one.
    With a tracer, passes alternate untraced / traced (at least one of
    each), so the tracing overhead compares passes of matched warmth.
    Traced runs read each pass's job groups from the status tracker as
    soon as the pass ends, before Spark's bounded job and stage history
    (1000 each by default) drops them. Returns (untraced passes, traced
    passes)."""
    plain, traced_passes = [], []
    jobs = layertrace.JobStats(ctx.spark)
    stats = ctx.extra["job_stats"] = {}
    ctx.extra.pop("groups", None)  # the warm passes' groups
    t_end = time.perf_counter() + seconds
    k = 0
    while not plain or (tracer and not traced_passes) or time.perf_counter() < t_end:
        k += 1
        if tracer is None or len(traced_passes) >= len(plain):
            ctx.extra.setdefault("plain", []).append(k)
            plain.append(wl.run_pass(ctx, k))
        else:
            tracer.item = f"pass{k}"
            ctx.extra.setdefault("traced", []).append(k)
            with traced(ctx, tracer):
                traced_passes.append(wl.run_pass(ctx, k))
        ctx.group(None)
        groups = ctx.extra.pop("groups", [])
        if tracer is not None:
            stats.update((g, jobs.of_group(g)) for g in groups)
    return plain, traced_passes


def run(args, root: str, work: str, out_dir: str) -> dict:
    from workloads import WORKLOADS, Ctx

    e2e_units, layer_units = metric_units(root)
    record: dict = {"workload": args.workload, "seed": args.seed}
    record["host"] = size_to_host(root, work)
    wl = WORKLOADS[args.workload]()
    ctx = Ctx(None, args.seed, work)
    t0 = time.perf_counter()
    record["fixture"] = wl.prepare(ctx)
    record["fixture_s"] = time.perf_counter() - t0

    from xlsx_to_database_spark.session import get_spark

    setups, starts = [], []
    for k in range(SETUPS):
        t0 = time.perf_counter()
        ctx.spark = get_spark("perfbench")
        starts.append(time.perf_counter() - t0)
        wl.cold_item(ctx)
        setups.append(time.perf_counter() - t0)
        if k < SETUPS - 1:
            ctx.spark.stop()
    record.update(setups_s=setups, session_starts_s=starts)

    checks = wl.warm(ctx)

    tracer = layertrace.Tracer() if args.trace else None
    plain, traced_passes = measure(wl, ctx, args.seconds, tracer)

    passes = plain + traced_passes
    items = [i for p in passes for i in p.items]
    failed = sum(not i.ok for i in items) + sum(not ok for ok in checks)
    attempted = len(items) + len(checks)
    timed_items = [i for p in plain for i in p.items]
    lat = [i.latency_s for i in timed_items]
    record["item_s_tail"] = tail(timed_items)
    jvm_pid = ctx.spark._jvm.java.lang.ProcessHandle.current().pid()
    rss = {"python_mb": vm_hwm_kb("self") / 1024, "jvm_mb": vm_hwm_kb(jvm_pid) / 1024}
    record.update(
        passes_s=[p.seconds for p in plain], traced_passes_s=[p.seconds for p in traced_passes],
        items=len(lat), pass_parts=ctx.extra.get("pass_parts"), peak_rss=rss,
    )

    if args.trace:
        metrics = layer_metrics(wl, ctx, tracer, plain, traced_passes, record, layer_units)
        tracer.dump(os.path.join(out_dir, f"{args.workload}-seed{args.seed}-spans.json"))
    else:
        metrics = {
            "setup_s": statistics.median(setups),
            "pass_s": statistics.median(p.seconds for p in plain),
            "item_s_p50": statistics.median(lat),
            "item_s_tail": record["item_s_tail"]["value"],
            "rows_per_s": statistics.median(p.rows / p.seconds for p in plain),
            "ok_frac": 1 - failed / attempted,
            # The JVM's peak moves with GC heap sizing from run to run
            # (±15 %); it is reported per layer, under memory.*.
            "driver_rss_mb": rss["python_mb"],
        }
    with open(os.path.join(out_dir, f"{args.workload}-seed{args.seed}-trace{args.trace}.json"), "w") as f:
        json.dump(record, f, indent=1, default=str)
    print(f"# {json.dumps(record, default=str)}"[:4000], file=sys.stderr)
    return {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": (layer_units if args.trace else e2e_units)[k]}
                    for k, v in metrics.items()},
    }


def layer_metrics(wl, ctx, tracer, plain, traced_passes, record, names) -> dict:
    out = dict.fromkeys(names, 0.0)
    out["session.start_s"] = statistics.median(record["session_starts_s"])
    out["session.jvm_launch_s"] = record["session_starts_s"][0]
    rss = record["peak_rss"]
    out["memory.peak_rss_mb"] = rss["python_mb"] + rss["jvm_mb"]
    out["memory.jvm_peak_rss_mb"] = rss["jvm_mb"]
    jobs = ctx.extra["job_stats"]
    n = len(traced_passes)
    ks = ctx.extra["traced"]
    spans = [s for s in tracer.spans if s["item"] != "inproc"]

    def named(name):
        return [s for s in spans if s["name"] == name]

    def dur(ss):
        return sum(s["end"] - s["start"] for s in ss)

    loads = named("api.load_xlsx")
    if loads:
        out["api.load_xlsx_s"] = dur(loads) / len(loads)
        out["api.py4j_calls_per_load"] = sum(s["py4j"] for s in named("bench.load")) / len(loads)
        stats = [jobs[f"load-{k}"] for k in ks]
        out["api.jobs_per_load"] = sum(s["jobs"] for s in stats) / len(loads)
        out["api.tasks_per_load"] = sum(s["tasks"] for s in stats) / len(loads)
    creates = named("txn_table.create")
    if creates:
        out["txn_table.create_s"] = dur(creates) / len(creates)
        reads = named("txn_table.readback")
        out["txn_table.read_s"] = dur(reads) / len(reads)
        out["txn_table.commits"] = len(named("txn_table.commit")) / n
        out["txn_table.commit_retries"] = sum(
            1 for s in named("txn_table.commit") if s.get("error")) / n
        out["txn_table.bytes_per_row"] = statistics.median(
            p["txn_bytes"] for p in ctx.extra["pass_parts"]) / wl.part_digest[0]
    builds = named("queries.build")
    if builds:
        out["queries.build_s"] = dur(builds) / n
        out["queries.exec_s"] = dur(named("queries.exec")) / n
        out["queries.py4j_calls"] = sum(s["py4j"] for s in builds) / n
        def pass_stats(k):
            return [jobs[f"op-{k}-{name}"] for name in wl.names]

        stats = [s for k in ks for s in pass_stats(k)]
        for key in ("jobs", "stages", "tasks", "failed_tasks"):
            out[f"queries.{key}"] = sum(s[key] for s in stats) / n
        # Every pass runs the same plans, so each pass's job count, traced
        # or not, should equal queries.jobs.
        record["queries_jobs_per_pass"] = {
            kind: [sum(s["jobs"] for s in pass_stats(k)) for k in ctx.extra[kind]]
            for kind in ("plain", "traced")
        }
    selfs = tracer.self_times()  # over pass spans only: no in-process spans yet
    for layer in ("api", "sinks", "txn_table", "queries"):
        out[f"{layer}.self_s"] = selfs.get(layer, 0.0) / n
    out["sources.self_s"] = sum(selfs.get(x, 0.0) for x in ("xlsx_io", "infer", "xlsx", "sinks")) / n
    base = statistics.median(p.seconds for p in plain)
    out["trace.overhead_s"] = statistics.median(p.seconds for p in traced_passes) - base
    out["trace.overhead_frac"] = out["trace.overhead_s"] / base

    tracer.item = "inproc"
    with traced(ctx, tracer):
        inproc = wl.layers(ctx)
    record["inproc_rows"] = inproc.pop("_rows", None)
    out.update(inproc)
    return out


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", choices=("etl_load", "analytics_ops"))
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=15)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--self-test", action="store_true",
                   help="prove the correctness gate fails a corrupted output")
    args = p.parse_args(argv)
    if not args.self_test and not args.workload:
        p.error("--workload is required")

    root = os.getcwd()
    if not program_present(root):
        print(f"error: {root} holds no xlsx_to_database_spark checkout "
              "(run from the repository root)", file=sys.stderr)
        return 2
    sys.path[:0] = [HERE, os.path.join(root, "tools"), root]
    # Bind the package to this checkout before any tools/ module edits
    # sys.path on import.
    import xlsx_to_database_spark  # noqa: F401
    work = os.path.join(root, ".perfbench_work", f"{args.workload or 'selftest'}-{os.getpid()}")
    out_dir = os.path.join(root, ".perfbench_out")
    os.makedirs(work)
    os.makedirs(out_dir, exist_ok=True)
    os.chdir(work)
    try:
        if args.self_test:
            import selftest

            size_to_host(root, work)
            return selftest.main(work)
        result = run(args, root, work, out_dir)
    finally:
        if "pyspark" in sys.modules:
            shutdown_spark()
        os.chdir(root)
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
