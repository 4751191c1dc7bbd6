"""KG-build benchmark: one seeded workload per run.

    python3 perfbench/run.py --workload bulk_build --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. Prints a human-readable report, then
as its last line one JSON object {correct, attempted, failed, metrics}:
the end-to-end metrics with ``--trace 0``, the per-layer metrics of a
traced run with ``--trace 1``. Everything it writes goes under
``.perfbench_work/`` (deleted at exit) and ``.perfbench_out/`` (span
traces) in the checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

E2E_UNITS = {
    "setup_s": "s",
    "triples_per_s": "1/s",
    "eval_s": "s",
    "latency_p50_s": "s",
    "latency_tail_s": "s",
    "peak_rss_mb": "MiB",
}


def layer_unit(name: str) -> str:
    for suffix, unit in (("_us_per_text", "us"), ("_pct", "%"), ("_bytes", "bytes"),
                         ("_ratio", "ratio"), ("_s", "s")):
        if name.endswith(suffix):
            return unit
    return "count"


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--sf", type=float, default=0.1,
                    help="corpus scale factor; 0.1 is the sf0.1 shape, 0.001 a smoke run")
    args = ap.parse_args()

    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    # Spark scratch, JVM and Python temp files stay inside the checkout;
    # Python workers import the engine from the checkout.
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    # A 2 GiB driver heap (get_spark's default is 8 GiB) bounds the JVM's
    # share of the peak memory reading and keeps runs small on shared hosts.
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "2g")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    sys.path.insert(0, ROOT)
    try:
        import host
        import workloads
    except ImportError as e:
        print(f"perfbench: cannot import the engine from {ROOT}: {e}", file=sys.stderr)
        return 2
    if args.workload not in workloads.SPECS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)

    rss = host.MemorySampler()
    rss.start()
    bench = workloads.Bench(args.workload, args.seed, args.seconds, bool(args.trace), work, args.sf / 0.1)
    try:
        bench.run()
    finally:
        bench.close()
        peak = rss.stop()
        if args.trace:
            bench.tracer.write(os.path.join(ROOT, ".perfbench_out", f"{bench.tracer.run_id}.json"))
        shutil.rmtree(work, ignore_errors=True)
    bench.e2e["peak_rss_mb"] = peak

    if args.trace:
        metrics = {k: {"value": v, "unit": layer_unit(k)} for k, v in sorted(bench.layers.items())}
    else:
        metrics = {k: {"value": bench.e2e[k], "unit": u} for k, u in E2E_UNITS.items() if k in bench.e2e}
    ops = bench.ops
    print(f"workload {args.workload} seed {args.seed} seconds {args.seconds} trace {args.trace} "
          f"cores {bench.cores}, task slots {bench.slots}")
    for note in bench.notes:
        print("  " + note)
    print(f"  operations attempted {ops.attempted}, failed {ops.failed}")
    for f in ops.failures:
        print("  FAILED " + f)
    for k, m in metrics.items():
        print(f"  {k} = {m['value']:.6g} {m['unit']}")
    print(json.dumps({"correct": ops.failed == 0, "attempted": ops.attempted,
                      "failed": ops.failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
