#!/usr/bin/env python3
"""Repository benchmark: one workload, one seed, one closed-loop client.

    python3 perfbench/run.py --workload fleet_audit --seed 1 --seconds 15 --trace 0

Run from the repository root. The workload's inputs are generated from
the seed inside the run's work directory (``.perfbench_work/`` at the
root, removed on exit), a Spark session sized to the host is started,
and jobs run back to back — each starts when the previous one has
finished — for ``--seconds`` after one untimed warm-up round. Every
job's outputs are checked against the truth the generator planted.

The last line of standard output is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0``
the metrics are the end-to-end ones; with ``--trace 1`` they are the
per-layer ones, taken from every second round (the others run untraced,
so the tracing overhead is measured in the same run). A line before it
records the host: cores, heap, Spark, Python and Java versions.
See ``perfbench/README.md`` for the workloads and the metric map.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

#: set-up is repeated this many times per run and its median reported
SETUP_REPS = 3
#: untimed rounds before the timed loop: planning and codegen on the
#: driver keep getting faster over the first jobs of a fresh JVM
WARMUP_ROUNDS = 1
#: timed rounds per run at least, so every run samples the same stretch
#: of the JIT warm-up curve even when jobs outlast ``--seconds``
MIN_ROUNDS = 3

PER_LAYER = [
    "session.start_s",
    "catalog.list_s",
    "catalog.exists_s",
    "catalog.read_s",
    "catalog.read_calls",
    "catalog.read_jobs",
    "fanout.build_s",
    "fanout.sources_attempted",
    "fanout.sources_succeeded",
    "openmrs.loading_status_build_s",
    "openmrs.consistency_build_s",
    "openmrs.reconciliation_build_s",
    "rules.exec_s",
    "profile.exec_s",
    "checks.exec_s",
    "dqa.build_s",
    "sinks.write_report_s",
    "sinks.write_partitioned_s",
    "sinks.merge_upsert_s",
    "sinks.bytes_written",
    "text.quality_exec_s",
    "dedup.exact_exec_s",
    "dedup.minhash_exec_s",
    "dedup.pairs_out",
    "cluster.components_exec_s",
    "cluster.components_jobs",
    "similarity.topk_exec_s",
    "ingest.batch_s",
    *[f"ingest.batch_s.e{k}" for k in range(3)],
    "ingest.ledger_bytes",
    "ingest.pairs_out",
    "spark.jobs",
    "spark.stages",
    "spark.tasks",
    "spark.input_bytes",
    "spark.shuffle_write_bytes",
    "spark.spill_bytes",
    "spark.gc_s",
    "spark.executor_run_s",
    "spark.executor_busy_share",
    "spark.persisted_rdds_left",
    "trace.job_s",
    "trace.untraced_job_s",
    "trace.overhead_s",
]
UNITS = {"_s": "s", "_bytes": "B", "_share": "ratio", "bytes_written": "B"}


def unit_of(name: str) -> str:
    for suffix, unit in UNITS.items():
        if name.endswith(suffix):
            return unit
    return "s" if name.startswith("ingest.batch_s") else "count"


def host_info() -> dict:
    cores = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as fh:
        mem_kb = int(next(line for line in fh if line.startswith("MemTotal")).split()[1])
    # a quarter of physical memory, 1-4 GiB: the JVM, the Python driver
    # and the Python workers must fit beside each other
    heap_gb = max(1, min(4, mem_kb // (4 * 1024 * 1024)))
    return {"cores": cores, "mem_total_gb": round(mem_kb / 1024**2, 1), "heap_gb": heap_gb}


def configure_env(host: dict, work: str) -> None:
    """Everything Spark and its workers write stays inside ``work``."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ.update(
        {
            "SPARK_GRAFT_DRIVER_MEM": f"{host['heap_gb']}g",
            "PYSPARK_PYTHON": sys.executable,
            "PYSPARK_DRIVER_PYTHON": sys.executable,
            "PYTHONPATH": os.pathsep.join([ROOT, HERE, os.environ.get("PYTHONPATH", "")]),
            "TMPDIR": tmp,
            "SPARK_LOCAL_DIRS": tmp,
            "PYSPARK_SUBMIT_ARGS": " ".join(
                [
                    f"--conf spark.local.dir={tmp}",
                    # the heap is committed and touched at launch, so the
                    # resident size does not follow GC sizing heuristics
                    f'--driver-java-options "-Djava.io.tmpdir={tmp} -XX:-UsePerfData'
                    f' -Xms{host["heap_gb"]}g -XX:+AlwaysPreTouch"',
                    "--conf spark.ui.showConsoleProgress=false",
                    "pyspark-shell",
                ]
            ),
        }
    )


def start_session(spark, cores: int):
    from data_quality_checks_in_relational_database_spark.session import get_spark

    if spark is not None:
        spark.stop()
    spark = get_spark(app_name="perfbench", master=f"local[{cores}]", shuffle_partitions=cores)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def persisted_rdds(sc) -> int:
    return len(sc._jsc.getPersistentRDDs())


def clear_state(spark) -> None:
    """Drop the DataFrame cache and every persisted RDD (blocking), so a
    pin leaked by one job is not billed to the next."""
    spark.catalog.clearCache()
    for jrdd in spark.sparkContext._jsc.getPersistentRDDs().values():
        jrdd.unpersist(True)


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM it launched to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)


def log(msg: str) -> None:
    print(f"[perfbench {time.strftime('%H:%M:%S')}] {msg}", file=sys.stderr, flush=True)


def median(xs):
    return statistics.median(xs) if xs else 0.0


def run(args) -> dict:
    sys.path[:0] = [ROOT, HERE]
    import pyspark
    from pyspark import SparkContext

    import spans
    import workloads  # fails here, before any output, without the package

    host = host_info()
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-s{args.seed}-p{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    configure_env(host, work)
    wl = workloads.WORKLOADS[args.workload]()
    cores = host["cores"]
    spark = None
    try:
        # --- set-up, repeated; the last repetition's inputs are used ---
        setup_s, start_s, partitioned_s = [], [], []
        inputs = os.path.join(work, "inputs")
        for _ in range(SETUP_REPS):
            shutil.rmtree(inputs, ignore_errors=True)
            t0 = time.perf_counter()
            spark = start_session(spark, cores)
            t1 = time.perf_counter()
            tr = spans.Tracer(spark.sparkContext) if args.trace else spans.NullTracer()
            wl.setup(spark, inputs, args.seed, tr)
            setup_s.append(time.perf_counter() - t0)
            start_s.append(t1 - t0)
            partitioned_s.append(tr.values.get("sinks.write_partitioned_s", 0.0) if tr.enabled else 0.0)
        log(f"set-up {[round(x, 2) for x in setup_s]} s")
        sc = spark.sparkContext
        print(json.dumps({"host": {
            **host,
            "workload": args.workload,
            "seed": args.seed,
            "spark": pyspark.__version__,
            "python": platform.python_version(),
            "java": sc._jvm.System.getProperty("java.version"),
            "master": sc.master,
            "shuffle_partitions": spark.conf.get("spark.sql.shuffle.partitions"),
            "driver_memory": sc.getConf().get("spark.driver.memory"),
        }}), flush=True)

        attempted = failed = 0
        if args.trace:
            # the sibling workload's result, for the equivalence checks;
            # it counts as one attempted operation
            prep = spans.Tracer(sc)
            problems = wl.prepare(spark, work, prep)
            log(f"sibling run done{': ' + str(problems[:3]) if problems else ''}")
            attempted, failed = 1, int(bool(problems))
        out = os.path.join(work, "out")

        times = {False: [], True: []}  # traced? -> job seconds
        layer_rows = []  # one dict of per-layer values per traced job
        written = consumed = 0

        def one_job(tracer, timed: bool) -> None:
            nonlocal attempted, failed, written, consumed
            clear_state(spark)
            wl.before_job(out)
            traced = tracer.enabled
            if traced:
                spans.wait_for_listeners(sc)
                ex0 = spans.executor_totals(sc)
            inp = wl.job_input_bytes()
            w0 = spans.fs_bytes_written(sc)
            problems = []
            t0 = time.perf_counter()
            try:
                with tracer.span("job"):
                    res = wl.job(spark, tracer, out)
                elapsed = time.perf_counter() - t0
                w = spans.fs_bytes_written(sc) - w0
                left = persisted_rdds(sc)
                problems = wl.check(spark, res, tracer)
            except Exception:  # a failed job is counted, the loop goes on
                traceback.print_exc(file=sys.stderr)
                problems = ["raised"]
            attempted += 1
            if problems:
                failed += 1
                print(f"job {attempted} failed: {problems[:3]}", file=sys.stderr)
                return
            if not timed:
                return
            log(f"job {attempted}: {elapsed:.2f} s{' traced' if traced else ''}")
            times[traced].append(elapsed)
            written += w
            consumed += inp
            if traced:
                wl.probe(spark, tracer)
                spans.wait_for_listeners(sc)
                ex1 = spans.executor_totals(sc)
                row = dict(tracer.values)
                ids = tracer.job_ids()
                all_ids = [j for js in ids.values() for j in js]
                row.update({k: ex1[k] - ex0[k] for k in ex0})
                row.update(spans.stage_counters(sc, all_ids))
                row["spark.jobs"] = len(all_ids)
                row["catalog.read_jobs"] = len(ids.get("catalog.read", []))
                row["cluster.components_jobs"] = len(ids.get("cluster.components_exec", []))
                row["spark.executor_busy_share"] = row["spark.executor_run_s"] / (elapsed * cores)
                row["spark.persisted_rdds_left"] = left
                row["sinks.bytes_written"] = w
                if "ingest.batch_s" in row:
                    row[f"ingest.batch_s.e{res['batch']}"] = row["ingest.batch_s"]
                layer_rows.append(row)

        for _ in range(WARMUP_ROUNDS * wl.round_size):  # checked, not timed
            one_job(spans.NullTracer(), timed=False)

        jvm = getattr(SparkContext._gateway, "proc", None)
        with spans.RssSampler([os.getpid()] + ([jvm.pid] if jvm else [])) as rss:
            t_start = time.perf_counter()
            rounds = 0
            while time.perf_counter() - t_start < args.seconds or rounds < MIN_ROUNDS:
                traced = bool(args.trace) and rounds % 2 == 1
                for _ in range(wl.round_size):
                    one_job(spans.Tracer(sc) if traced else spans.NullTracer(), timed=True)
                rounds += 1
        stored = spans.dir_bytes(out)

        if args.trace:
            metrics = {}
            for name in PER_LAYER:
                vals = [r[name] for r in layer_rows if name in r]
                # layers only the sibling run touches are read from it
                metrics[name] = median(vals) if vals else prep.values.get(name, 0.0)
            metrics["session.start_s"] = median(start_s)
            if any(partitioned_s):
                metrics["sinks.write_partitioned_s"] = median(partitioned_s)
            metrics["trace.job_s"] = min(times[True])
            metrics["trace.untraced_job_s"] = min(times[False])
            metrics["trace.overhead_s"] = metrics["trace.job_s"] - metrics["trace.untraced_job_s"]
            metrics = {k: {"value": v, "unit": unit_of(k)} for k, v in metrics.items()}
        else:
            metrics = {
                "setup_s": {"value": median(setup_s), "unit": "s"},
                # the fastest timed job: on a shared host, contention only
                # ever inflates a job, and its slow phases outlast a job
                "job_s": {"value": min(times[False]), "unit": "s"},
                "peak_rss_mb": {"value": rss.peak_kb / 1024.0, "unit": "MB"},
                "bytes_written_per_input_byte": {
                    "value": written / consumed if consumed else 0.0,
                    "unit": "B/B",
                },
                "stored_bytes_per_input_byte": {
                    "value": stored / wl.stored_input_bytes,
                    "unit": "B/B",
                },
            }
        return {"correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": metrics}
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)


def main() -> None:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=["fleet_audit", "lake_audit", "corpus_dedup", "corpus_ingest"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    result = run(p.parse_args())
    print(json.dumps(result), flush=True)


if __name__ == "__main__":
    main()
