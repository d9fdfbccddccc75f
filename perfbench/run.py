"""Runs one benchmark workload and prints its metrics.

    python3 perfbench/run.py --workload snapshot_refresh --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. Inputs are generated from ``--seed``
under ``.perfbench_out/`` and removed afterwards. With ``--trace 0`` the
ops run untraced and the end-to-end metrics are reported; with
``--trace 1`` the ops are traced, the per-layer metrics are reported,
and the spans and a per-call breakdown are written to
``.perfbench_out/trace/``. The last line of standard output is one JSON
object: ``{"correct", "attempted", "failed", "metrics"}``. The exit code
is 1 when any output check failed and 2 when the engine is missing.
See ``perfbench/README.md`` for the workloads and metrics.
"""

from __future__ import annotations

import argparse
import ctypes
import gc
import json
import os
import shutil
import sys
import time
import traceback
from pathlib import Path

T_START = time.perf_counter()
HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path[:0] = [str(ROOT), str(HERE)]


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def start_spark(out: str):
    """One local session on every core with a 2 GiB heap, its scratch
    space inside the checkout."""
    from topn_clashroyal_etl_sql_snapshot_spark.session import get_spark

    for d in ("spark-local", "tmp"):
        os.makedirs(os.path.join(out, d), exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(out, "spark-local")
    os.environ["TMPDIR"] = os.path.join(out, "tmp")
    cores = os.cpu_count() or 1
    return get_spark(
        app_name="perfbench",
        master=f"local[{cores}]",
        shuffle_partitions=cores,
        extra_conf={
            "spark.driver.memory": "2g",
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={out}/tmp",
            "spark.sql.warehouse.dir": os.path.join(out, "spark-warehouse"),
            # keep every job of a run in the status store until harvest
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
        },
    )


def stop_spark(spark) -> None:
    """Stops the session and waits for its JVM to exit."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def main(argv=None) -> int:
    args = parse_args(argv)
    try:
        import topn_clashroyal_etl_sql_snapshot_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: the engine package is not importable from {ROOT}: {e}",
              file=sys.stderr)
        return 2
    from harness import Tracer, reset_peak_rss
    from report import end_to_end, per_layer, span_table
    from workloads import WORKLOADS
    from topn_clashroyal_etl_sql_snapshot_spark.testing.telemetry import cpu_steal, jvm_gc_ms

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    out = str(ROOT / ".perfbench_out")
    work = os.path.join(out, f"{args.workload}-{args.seed}-{os.getpid()}")
    spark = start_spark(os.path.join(work, "runtime"))
    try:
        tracer = Tracer(spark, enabled=False)
        wl = WORKLOADS[args.workload](spark, tracer, os.path.join(work, "data"), args.seed)
        wl.setup()
        setup_s = time.perf_counter() - T_START
        # peak memory counts from here: set-up's generators and oracle
        # ETL are the benchmark's own work, not the program's
        jvm_pid = spark._jvm.java.lang.ProcessHandle.current().pid()
        gc.collect()
        ctypes.CDLL("libc.so.6").malloc_trim(0)
        reset_peak_rss()
        reset_peak_rss(jvm_pid)

        results, errors = [], 0
        tracer.enabled = bool(args.trace)
        steal0 = cpu_steal()
        t0 = time.perf_counter()
        op_id = 0
        while op_id == 0 or time.perf_counter() - t0 < args.seconds:
            op_id += 1
            gc0 = jvm_gc_ms(spark)
            t = time.perf_counter()
            try:
                r = wl.op(op_id)
            except Exception:  # noqa: BLE001 — a failed op is counted, the run goes on
                traceback.print_exc()
                errors += 1
                continue
            r.update(op_id=op_id, op_s=time.perf_counter() - t, gc_ms=jvm_gc_ms(spark) - gc0)
            results.append(r)
        steal1 = cpu_steal()
        tracer.enabled = False
        attempted, failed = op_id, errors
        if not results:
            metrics = {}
        elif args.trace:
            # an op whose job groups could not all be harvested has no
            # trustworthy layer figures: it counts as failed
            failed += len({s.op_id for s in tracer.spans if s.counts is None})
            metrics = per_layer(wl, tracer, results, steal0, steal1)
            stem = os.path.join(out, "trace", f"{args.workload}-seed{args.seed}")
            tracer.dump(f"{stem}-spans.jsonl")
            with open(f"{stem}-layers.json", "w") as fh:
                json.dump(span_table(wl, tracer, results), fh, indent=1, sort_keys=True)
        else:
            metrics = end_to_end(wl, results, setup_s, jvm_pid)
    finally:
        stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)

    summary = {"workload": args.workload, "seed": args.seed, "ops": len(results),
               "op_s": [r["op_s"] for r in results],
               "failed_frac": failed / attempted,
               "query_samples": sum(len(r["query_s"]) for r in results),
               "metrics": metrics}
    print("PERFBENCH " + json.dumps(summary, sort_keys=True))
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    return 0 if failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
