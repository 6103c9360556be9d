"""Benchmark entry point: one workload, one seed, one result line.

    python3 geobench/run.py --workload sjoin_tile --seed 1 --seconds 12 --trace 0

Run from the repository root. Each run:

1. writes the seed's documents (Spark-free) and computes, or reads from
   its cache, the expected output digest from the scalar oracle;
2. sets up ``SETUP_CYCLES`` sessions with ``get_spark`` on
   ``local[nproc]`` (the first starts the JVM), each up to the first row
   of every input read, and keeps the last;
3. runs ``WARMUP_ITERATIONS`` untimed iterations, then a closed loop with one
   client for ``--seconds`` seconds and at least ``MIN_ITERATIONS``
   iterations, checking every iteration's digest;
4. with ``--trace 1``, runs one extra traced iteration, reads Spark's
   status API for it, stops Spark and times the ``core`` kernels;
5. on every way out, stops Spark and ends and reaps every process it
   started (``procs.py``).

Everything it writes stays under ``.geobench/`` in the working
directory. The last stdout line is the result object; the line before
it is a summary with the host record, quartiles and sample counts.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time

ROOT = os.getcwd()
WORK = os.path.join(ROOT, ".geobench")
N_DOCS = 20_000
SETUP_CYCLES = 3
MIN_ITERATIONS = 3
WARMUP_ITERATIONS = 2


def _fail(msg: str) -> None:
    print(f"geobench: {msg}", file=sys.stderr)
    sys.exit(2)


def _quartiles(values: list) -> dict:
    q = (statistics.quantiles(values, n=4) if len(values) > 1
         else [values[0]] * 3)
    return {"median": statistics.median(values), "q1": q[0], "q3": q[2],
            "n": len(values)}


def _configure_env(mem_kb: int) -> str:
    heap_gb = max(1, min(4, mem_kb // (4 * 1024 * 1024)))
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ.update({
        "SPARK_DRIVER_MEMORY": f"{heap_gb}g",
        "SPARK_LOCAL_DIRS": os.path.join(WORK, "spark-local"),
        "SPARK_WAREHOUSE_DIR": os.path.join(WORK, "warehouse"),
        "TMPDIR": tmp,
        # no hsperfdata file: HotSpot writes it to /tmp whatever tmpdir is
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "PYTHONPATH": os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
    })
    return f"{heap_gb}g"


def _session(nproc: int):
    from cdap_geo_spark.session import get_spark
    spark = get_spark(app="geobench", cores=nproc, extra_conf={
        "spark.ui.showConsoleProgress": "false"})
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _first_rows(spark, paths: list) -> None:
    for p in paths:
        spark.read.parquet(p).first()


def _stop() -> None:
    """Stop Spark and the JVM it launched, if any; wait until it has
    exited."""
    if "pyspark" not in sys.modules:
        return
    from pyspark import SparkContext
    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(prog="geobench")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    from geobench import procs
    procs.adopt_orphans()
    try:
        return _run(args)
    finally:
        _stop()
        procs.stop_all()


def _run(args) -> int:
    if not os.path.isfile(os.path.join(ROOT, "cdap_geo_spark", "session.py")):
        _fail("run from the repository root (cdap_geo_spark/ not found)")
    from geobench import host, inputs, reference, trace, workloads
    if args.workload not in workloads.WORKLOADS:
        _fail(f"unknown workload {args.workload!r}; "
              f"choose from {sorted(workloads.WORKLOADS)}")
    if not 0 <= args.seed < 2 ** 63 // inputs.SEED_STRIDE - 1:
        _fail("--seed must be a non-negative 64-bit doc-id offset")
    iterate = workloads.WORKLOADS[args.workload]

    t_start = time.perf_counter()
    phases = {}
    nproc = os.cpu_count() or 1
    record = host.host_record()
    heap = _configure_env(record["mem_total_kb"])
    files = 2 * nproc
    docs = inputs.ensure_documents(WORK, args.seed, N_DOCS, files)

    phases["inputs"] = time.perf_counter() - t_start
    # -- set-up cycles: get_spark .. first row of every input read
    setup = []
    t0 = time.perf_counter()
    spark = _session(nproc)
    jvm_start_s = time.perf_counter() - t0
    regions = inputs.ensure_regions(spark, WORK)
    t1 = time.perf_counter()
    _first_rows(spark, [docs, regions])
    first_read_s = time.perf_counter() - t1
    setup.append(jvm_start_s + first_read_s)
    for _ in range(SETUP_CYCLES - 1):
        spark.stop()
        t0 = time.perf_counter()
        spark = _session(nproc)
        _first_rows(spark, [docs, regions])
        setup.append(time.perf_counter() - t0)

    phases["setup"] = time.perf_counter() - t_start - phases["inputs"]
    expected = reference.expected_digest(WORK, docs, regions,
                                         processes=nproc)
    phases["expected"] = time.perf_counter() - t_start - sum(phases.values())
    want = (expected["count"], int(expected["sum"]))
    off = trace.Tracer(spark, enabled=False)
    job_root = os.path.join(WORK, "job-out")

    # warm-up: Python workers, JIT and heap growth at full input size
    for _ in range(WARMUP_ITERATIONS):
        iterate(spark, off, docs, regions, job_root)

    phases["warmup"] = time.perf_counter() - t_start - sum(phases.values())
    # -- timed closed loop, one client
    attempted = failed = 0
    its = []
    steal0 = trace.steal_seconds()
    t_loop = time.perf_counter()
    with trace.ProcSampler() as rss:
        while True:
            attempted += 1
            try:
                it = iterate(spark, off, docs, regions, job_root)
            except Exception as e:  # a failed operation, counted below
                print(f"geobench: iteration failed: {e!r}", file=sys.stderr)
                failed += 1
            else:
                its.append(it)
                if it.digest != want:
                    print(f"geobench: digest {it.digest} != expected {want}",
                          file=sys.stderr)
                    failed += 1
            if (attempted >= MIN_ITERATIONS
                    and time.perf_counter() - t_loop >= args.seconds):
                break
    loop_s = time.perf_counter() - t_loop
    record["steal_s_in_loop"] = trace.steal_seconds() - steal0
    record.update(host.session_record(spark, heap))

    if not its:
        _stop()
        _fail(f"all {attempted} iterations failed")
    walls = [it.wall_s for it in its]
    rows = its[0].rows
    metrics = {
        "wall_s": (statistics.median(walls), "s"),
        "rows_per_s": (rows / statistics.median(walls), "1/s"),
        "setup_s": (statistics.median(setup), "s"),
        "peak_rss_mb": (rss.peak_total_mb, "MB"),
    }
    summary = {
        "workload": args.workload, "seed": args.seed, "docs": N_DOCS,
        "iterations": [it.wall_s for it in its], "loop_s": loop_s,
        "iteration_layers": [it.extra for it in its],
        "wall_s": _quartiles(walls), "setup_s": _quartiles(setup),
        "rows": rows, "expected": expected, "host": record,
        "phases_s": phases,
    }

    if args.trace:
        metrics, traced_ok = _traced(
            spark, iterate, docs, regions, job_root, statistics.median(walls),
            want, nproc, jvm_start_s, first_read_s, summary)
        attempted += 1
        failed += not traced_ok
    else:
        _stop()

    phases["rest"] = time.perf_counter() - t_start - sum(phases.values())
    print(json.dumps({"summary": summary}))
    print(json.dumps({
        "correct": failed == 0, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": v, "unit": u}
                    for k, (v, u) in metrics.items()}}))
    return 0


def _traced(spark, iterate, docs, regions, job_root, untraced_s,
            want, nproc, jvm_start_s, first_read_s, summary):
    """One traced iteration -> (every per-layer metric, 0 where the
    workload does not touch the layer; whether its digest matched)."""
    from geobench import inputs, kernels, reference, trace

    tracer = trace.Tracer(spark, enabled=True)
    api = trace.StatusApi(spark)
    since = api.max_ids()
    cpu0 = trace.cpu_seconds()
    with trace.ProcSampler() as rss:
        it = iterate(spark, tracer, docs, regions, job_root)
    cpu1 = trace.cpu_seconds()
    batch_rows = int(spark.conf.get(
        "spark.sql.execution.arrow.maxRecordsPerBatch"))
    layers = trace.spark_layers(api, since, tracer.names(), it.wall_s, nproc,
                                batch_rows)
    _stop()

    table = inputs.read_documents(docs)
    region_blobs = inputs.read_regions(regions).column("geometry").to_pylist()
    core = kernels.kernel_metrics(inputs.primary_geometries(table),
                                  region_blobs, level=reference.LEVEL)
    summary["trace"] = {
        "spans": tracer.spans,
        "self_s": {n: tracer.self_time(n) for n in tracer.names()},
        "replay_prefilter_rows": core.pop("replay.prefilter_rows"),
        "plan_prefilter_rows": layers["sjoin.prefilter.rows_out"],
    }
    cand = core["sjoin.candidates"]
    layers["sjoin.prefilter.pass_ratio"] = (
        layers["sjoin.prefilter.rows_out"] / cand if cand else 0.0)
    out = {
        "session.jvm_start_s": (jvm_start_s, "s"),
        "session.first_read_s": (first_read_s, "s"),
        "sjoin.plan_s": (tracer.duration("sjoin.plan"), "s"),
    }
    units = {"rows_per_s": "1/s", "_s": "s", "_bytes": "B",
             "bytes_to_python": "B", "bytes_written": "B",
             "bytes_per_row": "B", "_ratio": "ratio", "task_skew": "ratio",
             "core_utilization": "ratio", "_mb": "MB"}

    def unit(name):
        return next((u for suffix, u in units.items()
                     if name.endswith(suffix)), "count")

    for name, value in {**core, **layers}.items():
        out[name] = (value, unit(name))
    for name in ("manifest.pairs_tiled_s", "manifest.enriched_s",
                 "docs.invariant_s", "manifest.resume_s",
                 "manifest.bytes_written", "manifest.files",
                 "manifest.bytes_per_row"):
        out[name] = (it.extra.get(name, 0.0), unit(name))
    out.update({
        "proc.python_cpu_s": (cpu1["python"] - cpu0["python"], "s"),
        "proc.jvm_cpu_s": (cpu1["jvm"] - cpu0["jvm"], "s"),
        "proc.python_rss_mb": (rss.peak_python_mb, "MB"),
        "proc.jvm_rss_mb": (rss.peak_jvm_mb, "MB"),
        "trace.wall_s": (it.wall_s, "s"),
        "trace.overhead_s": (it.wall_s - untraced_s, "s"),
    })
    return out, it.digest == want


if __name__ == "__main__":
    sys.exit(main())
