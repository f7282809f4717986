"""imc-spark benchmark.

    python3 perfbench/run.py --workload {build,corpus} --seed N \
        --seconds S --trace {0,1}

Run from the repository root. Inputs are generated from --seed; Spark runs
on local[n - 1], n = $SPARK_GRAFT_CPUS or nproc; everything is written under
.perfbench/ in the repository. The last stdout line is one JSON object:
with --trace 0 the end-to-end metrics, with --trace 1 the per-layer
metrics of a traced run (spans are also written to .perfbench/spans/).
See perfbench/README.md for the workloads and metric definitions.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORKLOADS = ("build", "corpus")


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    for need in ("imc/pipeline.py", "fixtures/gen_pages.py"):
        if not os.path.isfile(os.path.join(ROOT, need)):
            print(f"perfbench: {need} not found under {ROOT}; run from a "
                  f"checkout of the repository", file=sys.stderr)
            return 2
    sys.path.insert(0, ROOT)

    from perfbench import harness, layers, workloads

    work = harness.fresh_dir(os.path.join(
        ROOT, ".perfbench", f"work-{args.workload}-{os.getpid()}"))
    spark = harness.start_spark(ROOT, work)
    try:
        t_spark = time.perf_counter() - T_START
        run_id = f"{args.workload}-s{args.seed}-t{args.trace}"
        tracer = harness.Tracer(spark, bool(args.trace), run_id)
        res = workloads.WORKLOADS[args.workload](
            spark, tracer, work, ROOT, args.seed, args.seconds, t_spark)
        if args.trace:
            m = layers.metrics(tracer, res)
            metrics = {n: {"value": m[n], "unit": u} for n, u in layers.names()}
            span_dir = os.path.join(ROOT, ".perfbench", "spans")
            os.makedirs(span_dir, exist_ok=True)
            tracer.dump(os.path.join(span_dir, f"{run_id}.jsonl"))
        else:
            q = [ms for v in res.query_ms.values() for ms in v]
            offheap_mb, live_heap_mb = res.memory_mb
            metrics = {
                "setup_s": (res.setup_s, "s"),
                "op_s": (harness.median(res.op_s) if res.op_s else 0.0, "s"),
                "query_p50_ms": (harness.quantile(q, 0.5) if q else 0.0, "ms"),
                "query_p90_ms": (harness.quantile(q, 0.9) if q else 0.0, "ms"),
                "peak_rss_offheap_mb": (offheap_mb, "MB"),
                "live_heap_mb": (live_heap_mb, "MB"),
            }
            metrics = {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}
    finally:
        harness.stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)

    for e in res.errors:
        print(e, file=sys.stderr)
    print(f"perfbench: {args.workload} seed {args.seed}: "
          f"wall {time.perf_counter() - T_START:.1f} s, setup {res.setup_s:.1f} s, "
          f"ops {sum(res.op_s):.1f} s, timed queries "
          f"{sum(map(sum, res.query_ms.values())) / 1000:.1f} s, "
          f"checks {res.check_s:.1f} s", file=sys.stderr)
    print(json.dumps({"correct": res.failed == 0 and not res.errors,
                      "attempted": max(1, res.attempted),
                      "failed": res.failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
