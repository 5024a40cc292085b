"""Benchmark of slipstream_async_spark: one workload per invocation.

    python3 perfbench/run.py --workload catalog --seed 1 --seconds 1 --trace 0

Workloads (see ``workloads.py``): ``catalog`` runs catalog queries with
one client, closed loop; ``stream_dedup`` drains a staged document
backlog through the near-dup sink, one file per trigger. The seed
permutes the catalog query order and draws the streamed documents; the
tables themselves are fixed.

A run sets up (session start, input staging, warm-up), measures whole
passes until ``--seconds`` have elapsed (at least one; the stream drains
its backlog once), checks every output, and prints one metric per line
followed by one JSON line on standard output. With ``--trace 1`` the
measured pass runs with the wrappers of ``tracing.py`` installed and the
JSON line carries the per-layer metrics instead of the end-to-end ones.
The process pins its own environment (core count, JVM heap size, Spark
and JVM scratch under ``.perfbench_work/``, ``PYTHONPATH``) and removes
its working files on exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SETUP_REPEATS = 3


def pin_environment(work: str) -> None:
    """Every core, a JVM heap well below host RAM, Spark and JVM
    scratch inside the checkout, and the repo on PYTHONPATH so Python
    workers import the package from any working directory."""
    ram_gb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") / 2**30
    tmp = os.path.join(work, "tmp")
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
        "SPARK_GRAFT_DRIVER_MEM": f"{max(1, min(4, int(ram_gb / 3)))}g",
        "SPARK_LOCAL_DIRS": os.path.join(work, "local"),
        "TMPDIR": tmp,
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp}",
        "PYTHONPATH": os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
        ),
        "PYSPARK_PYTHON": sys.executable,
    })
    for p in (ROOT, HERE):
        if p not in sys.path:
            sys.path.insert(0, p)


def vm_hwm_mb(pid: int | None) -> float:
    """Peak resident set of a process (``VmHWM``), in MB."""
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except (OSError, TypeError):
        pass
    return 0.0


def sentinel(spark, tables_dir: str) -> float:
    """A fixed scan + aggregate over lineitem: host speed, recorded next
    to every other figure."""
    from pyspark.sql import functions as F

    t0 = time.perf_counter()
    (spark.read.parquet(f"{tables_dir}/lineitem.parquet")
     .groupBy("l_returnflag", "l_linestatus")
     .agg(F.sum("l_extendedprice"), F.avg("l_discount"), F.count("*"))
     .collect())
    return time.perf_counter() - t0


def warm_up(spark, tables_dir: str, workload: str) -> None:
    """A real scan + shuffle + codegen, and for the catalog (whose queries
    use Python workers; the stream path does not) one Arrow round trip,
    so the first measured operation does not pay them."""
    sentinel(spark, tables_dir)
    if workload == "stream_dedup":
        return
    df = spark.range(8)
    df.mapInArrow(lambda it: it, df.schema).write.format("noop").mode(
        "overwrite").save()


def stage(args, work: str, i: int) -> dict:
    import datagen
    from workloads import stage_stream

    tables = os.path.join(work, f"tables{i}")
    datagen.write_tables(tables, args.sf)
    out = {"tables": tables}
    if args.workload == "stream_dedup":
        out["src"] = os.path.join(work, f"backlog{i}")
        out["docs"] = stage_stream(tables, out["src"], args.seed)
    return out


def run(args, work: str) -> dict:
    """Start the session, measure, and always stop the JVM."""
    t0 = time.perf_counter()
    from slipstream_async_spark.session import get_spark

    spark = get_spark("perfbench", extra_conf={
        # the traced run reads every job and stage back from the store
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
    })
    spark.sparkContext.setLogLevel("ERROR")
    get_spark_s = time.perf_counter() - t0
    try:
        return measure(args, work, spark, get_spark_s)
    finally:
        stop(spark)


def measure(args, work: str, spark, get_spark_s: float) -> dict:
    from stats import median, tail
    from tracing import Tracer
    import workloads as W

    # -- rest of the set-up: inputs (staged SETUP_REPEATS times), warm-up --
    stage_s = []
    for i in range(SETUP_REPEATS):
        t = time.perf_counter()
        inputs = stage(args, work, i)
        stage_s.append(time.perf_counter() - t)
    t = time.perf_counter()
    warm_up(spark, inputs["tables"], args.workload)
    warmup_s = time.perf_counter() - t
    setup_s = get_spark_s + median(stage_s) + warmup_s
    host_s = sentinel(spark, inputs["tables"])

    # -- measured run -------------------------------------------------------
    tracer = Tracer() if args.trace else None
    phases = {"build": [], "action": [], "trigger": [], "pinned": 0}
    if tracer:
        tracer.install()
    res, keep = W.Result(), {}
    t0 = time.perf_counter()
    if args.workload == "stream_dedup":
        tables = W.stream_drain(spark, inputs["src"], f"{work}/state", res,
                                phases)
    else:
        tables = None
        p = 0
        while p == 0 or time.perf_counter() - t0 < args.seconds:
            W.catalog_pass(spark, inputs["tables"], W.WORKLOADS[args.workload],
                           args.seed * 1000 + p, res, tracer, phases,
                           keep if p == 0 else None)
            p += 1
    run_s = median(res.pass_seconds)
    if tracer:
        tracer.enabled = False
    jvm = getattr(spark.sparkContext._gateway, "proc", None)
    jvm_mb = vm_hwm_mb(getattr(jvm, "pid", None))
    peak_mb = vm_hwm_mb(os.getpid()) + jvm_mb
    print(f"perfbench: get_spark {get_spark_s:.2f}s stage "
          f"{[round(s, 2) for s in stage_s]} warm-up {warmup_s:.2f}s ops "
          f"{list(zip(res.names, [round(x, 2) for x in res.latencies]))}",
          file=sys.stderr)

    # -- output checks --------------------------------------------------------
    t = time.perf_counter()
    if args.workload == "stream_dedup":
        W.check_stream(spark, inputs["docs"], tables, res)
    else:
        W.check_catalog(ROOT, inputs["tables"], keep, res,
                        os.path.join(ROOT, ".perfbench_cache"), f"sf={args.sf}")
    print(f"perfbench: output check {time.perf_counter() - t:.2f}s",
          file=sys.stderr)

    m = {
        "setup_s": (setup_s, "s"),
        "run_s": (run_s, "s"),
        "op_p50_s": (median(res.latencies) if res.latencies else run_s, "s"),
    }
    tl = tail(res.latencies)
    if tl is not None:
        m["op_tail_s"] = (tl[1], "s")
        m["op_tail_pct"] = (tl[0], "percentile")
        m["op_tail_n"] = (float(tl[2]), "count")
    if args.workload == "stream_dedup":
        m["rows_per_s"] = (res.rows / run_s, "rows/s")
    m["peak_rss_mb"] = (peak_mb, "MB")
    m["error_rate"] = (res.failed / max(res.attempted, 1), "fraction")
    m["host.sentinel_s"] = (host_s, "s")
    layers = None
    if tracer:
        from layers import per_layer

        layers = per_layer(spark, tracer, phases, tables)
        # spans stay in memory during the run and are written once here
        out_dir = os.path.join(ROOT, ".perfbench_out")
        os.makedirs(out_dir, exist_ok=True)
        with open(os.path.join(
                out_dir, f"spans-{args.workload}-seed{args.seed}.json"), "w") as fh:
            json.dump(tracer.spans, fh)
        layers.update({
            "session.get_spark_s": (get_spark_s, "s"),
            "session.warmup_s": (warmup_s, "s"),
            "jvm.peak_rss_mb": (jvm_mb, "MB"),
            "trace.overhead_s": (tracer.overhead, "s"),
            "trace.run_s": (run_s, "s"),
        })
    return {"metrics": m, "layers": layers, "res": res}


def stop(spark) -> None:
    """Stop the session and wait for the JVM to exit."""
    gateway = spark.sparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def declared(kind: str) -> list[str]:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return [m["name"] for m in json.load(fh)[kind]]


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--sf", type=float, default=0.01,
                    help="table scale factor (default 0.01)")
    args = ap.parse_args(argv)
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    pin_environment(work)
    try:
        import slipstream_async_spark  # noqa: F401
        from workloads import WORKLOADS
    except ImportError as exc:
        print(f"perfbench: cannot import the library: {exc}", file=sys.stderr)
        return 2
    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    keys = declared("per_layer" if args.trace else "end_to_end")
    # the JVM inherits fd 1 and prints banners there: keep stdout for the
    # result lines only
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    real_stdout = os.dup(1)
    os.dup2(2, 1)
    try:
        out = run(args, work)
    finally:
        sys.stdout.flush()
        os.dup2(real_stdout, 1)
        os.close(real_stdout)
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass
    res = out["res"]
    for name, why in sorted(res.errors.items()):
        print(f"# FAILED {name}: {why}")
    shown = dict(out["metrics"])
    shown.update(out["layers"] or {})
    for name, (value, unit) in shown.items():
        print(f"{args.workload} {name} {value:.6g} {unit}")
    print(json.dumps({
        "correct": res.failed == 0,
        "attempted": res.attempted,
        "failed": res.failed,
        "metrics": {k: {"value": shown[k][0], "unit": shown[k][1]} for k in keys},
    }), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
