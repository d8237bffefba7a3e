"""Benchmark of img2dataset_spark: four workloads, each one process with
one SparkSession, run from the root of a checkout.

    python3 perfbench/run.py --workload pixels --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --workload ann --seed 1 --inputs      # input checksums
    python3 perfbench/run.py --workload curate --seed 1 --selftest # checker self-test

The last line of standard output is one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``: the end-to-end metrics of
BENCHMARK.json with ``--trace 0``, its per-layer metrics with
``--trace 1``.  The line before it carries contention evidence.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=("pixels", "ingest", "ann", "curate"))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--inputs", action="store_true", help="print input checksums and exit")
    ap.add_argument("--selftest", action="store_true", help="run the checker self-test")
    return ap.parse_args(argv)


def _metric_specs() -> tuple[dict, dict]:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    e2e = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    layer = {m["name"]: m["unit"] for m in spec["per_layer"]}
    return e2e, layer


def _start_session(work: str, trace: bool):
    if trace:
        logdir = os.path.join(work, "eventlog")
        os.makedirs(logdir, exist_ok=True)
        os.environ["PYSPARK_SUBMIT_ARGS"] = (
            "--conf spark.eventLog.enabled=true "
            f"--conf spark.eventLog.dir=file://{logdir} "
            "--conf spark.eventLog.compress=false pyspark-shell"
        )
    from img2dataset_spark.session import get_spark

    return get_spark()


def _stop_session(spark) -> None:
    """Stop Spark, then the gateway JVM, and wait for it to exit."""
    sc = spark.sparkContext
    gateway = sc._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001 - make sure the JVM is gone
            proc.kill()
            proc.wait()


def run(args) -> int:
    from perfbench import selftest
    from perfbench.server import ImageServer
    from perfbench.tracing import (EventLog, Py4JCounter, Tracer, TreeSampler,
                                   host_steal_s, loadavg, process_tree, tree_cpu_s)
    from perfbench.workloads import WORKLOADS, Context, probe_other_layers

    e2e_units, layer_units = _metric_specs()
    cores = len(os.sched_getaffinity(0))
    work = os.path.join(ROOT, ".perfbench_work", args.workload)
    shutil.rmtree(work, ignore_errors=True)
    for sub in ("spark-local", "tmp"):
        os.makedirs(os.path.join(work, sub))
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    tempfile.tempdir = None  # forget a default chosen before TMPDIR was set

    traced = bool(args.trace)
    tracer = Tracer(traced)
    ctx = Context(args.seed, work, cores, tracer,
                  EventLog(os.path.join(work, "eventlog")) if traced else None)
    w = WORKLOADS[args.workload](ctx)
    phases = {}
    tp = time.perf_counter()
    w.prepare()
    phases["prepare"] = time.perf_counter() - tp
    load_start = loadavg()
    server = ImageServer(getattr(w, "images", {}))
    spark = None
    with server:
        ctx.server = server
        try:
            t0 = time.perf_counter()
            spark = _start_session(work, traced)
            session_s = time.perf_counter() - t0
            ctx.spark = spark
            if traced:
                ctx.py4j = Py4JCounter(spark)
                ctx.py4j.install()
            w.setup()
            setup_s = time.perf_counter() - t0
            phases.update(session=session_s, setup=setup_s - session_s)

            if args.selftest:
                w.measure(0)
                result = selftest.verdict(selftest.CASES[args.workload](w))
                print(json.dumps({"workload": args.workload, **result}))
                return 0 if result["ok"] else 1

            timed_from = time.time()
            pids = process_tree()
            cpu0, steal0, wall0 = tree_cpu_s(pids), host_steal_s(), time.perf_counter()
            with TreeSampler() as sampler:
                recs = w.measure(args.seconds)
            wall = time.perf_counter() - wall0
            cpu = tree_cpu_s(process_tree()) - cpu0
            steal = host_steal_s() - steal0
            summary = w.summary(recs)
            tp = time.perf_counter()
            errors = w.check()
            phases["check"] = time.perf_counter() - tp
            if traced:
                tp = time.perf_counter()
                w.probe(since=timed_from)
                errors += probe_other_layers(w)
                phases["probe"] = time.perf_counter() - tp
        finally:
            tp = time.perf_counter()
            if spark is not None:
                _stop_session(spark)
            w.cleanup()
            phases["stop"] = time.perf_counter() - tp

    attempted = sum(r["items"] for r in recs)
    failed = w.failed(recs)
    for e in errors[:20]:
        print(f"CHECK FAILED: {e}", file=sys.stderr)
    if traced:
        measured = {"session.start_s": session_s,
                    "trace.items_per_s": summary["items_per_s"], **w.layer}
        missing = sorted(set(layer_units) - set(measured))
        if missing:
            raise RuntimeError(f"the traced run did not measure {missing}")
        values = {name: float(measured[name]) for name in layer_units}
        units = layer_units
        tracer.dump(os.path.join(work, "spans.json"))
        with open(os.path.join(work, "trace.json"), "w") as fh:
            json.dump({"layers": w.layer, "summary": summary,
                       "placement": getattr(w, "placement", None)}, fh, indent=1)
        print(json.dumps({"placement": getattr(w, "placement", None)}), file=sys.stderr)
    else:
        values = {"setup_s": setup_s, **summary}
        units = e2e_units
    others = {k: v for k, v in summary.items() if k not in e2e_units}
    others["peak_rss_mb"] = sampler.peak_mb
    print(json.dumps({"contention": {
        "loadavg_start": load_start, "loadavg_end": loadavg(),
        "tree_cpu_s": round(cpu, 3), "timed_wall_s": round(wall, 3),
        "cpu_per_wall": round(cpu / wall, 3), "host_steal_s": round(steal, 2),
        "cores": cores, "operations": len(recs),
        "phases_s": {k: round(v, 2) for k, v in phases.items()},
        "warmup_wall_s": [round(x, 3) for x in w.warmup_walls],
        "other_metrics": others,
        "op_wall_s": [round(r["wall_s"], 3) for r in recs]}}))
    print(json.dumps({
        "correct": not errors,
        "attempted": attempted,
        "failed": failed,
        "metrics": {n: {"value": values[n], "unit": u} for n, u in units.items()},
    }))
    return 0


def main(argv=None) -> int:
    args = _args(argv)
    if not os.path.isfile(os.path.join(ROOT, "img2dataset_spark", "__init__.py")):
        print(f"no img2dataset_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    if args.inputs:
        from perfbench.inputs import checksums

        sums = checksums(args.workload, args.seed)
        filters = sums.pop("png_row_filters", None)
        print(json.dumps({"workload": args.workload, "seed": args.seed, "sha256": sums,
                          **({"png_row_filters": filters} if filters else {})}, indent=1))
        return 0
    try:
        return run(args)
    except Exception:  # noqa: BLE001 - report and fail without a result line
        traceback.print_exc()
        return 1


if __name__ == "__main__":
    sys.exit(main())
