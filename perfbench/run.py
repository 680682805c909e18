"""Benchmark entry point.

    python3 perfbench/run.py --workload kg_checkpointed --seed 1 --seconds 5 --trace 0

Runs one workload (see workloads.py) on ``local[4]`` from the root of a
checkout: set-up (session start, inputs generated from ``--seed``,
warm-up), timed passes until ``--seconds`` have elapsed (whole passes,
at least one), then the correctness gates. ``--trace 0`` reports the
end-to-end metrics; ``--trace 1`` runs a traced and then an untraced pass
with the Spark event log on and reports the per-layer metrics of the
traced pass.

Prints a record line (window stamps, core count, seed, session settings,
per-pass samples, failures) and, as the last line, the result object
``{"correct", "attempted", "failed", "metrics"}``. Exits 1 when a
correctness gate fails and 2 when the engine cannot be imported.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def declared_units() -> tuple[dict, dict]:
    """{name: unit} of the end-to-end and of the per-layer metrics that
    BENCHMARK.json declares."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return (
        {m["name"]: m["unit"] for m in spec["end_to_end"]},
        {m["name"]: m["unit"] for m in spec["per_layer"]},
    )


def main(argv=None) -> int:
    t_start = time.perf_counter()
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    try:
        import bench  # the window stamps live in the frozen bench.py
        import easyner_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: cannot import the engine from {ROOT}: {e}", file=sys.stderr)
        return 2
    import harness
    from workloads import WORKLOADS

    e2e_units, layer_units = declared_units()

    if args.workload not in WORKLOADS:
        ap.error(f"unknown workload {args.workload!r}; choose from {sorted(WORKLOADS)}")

    run_dir = os.path.join(ROOT, ".perfbench", f"{args.workload}-s{args.seed}-{os.getpid()}")
    b = harness.Bench(root=ROOT, run_dir=run_dir, traced=bool(args.trace))
    try:
        session_s = b.start()
        w = WORKLOADS[args.workload](b)
        t0 = time.perf_counter()
        w.setup(args.seed)
        setup_s = session_s + (time.perf_counter() - t0) - w.oracle_s

        if args.trace:
            # the traced pass comes first after the warm-up, like the timed
            # pass of a --trace 0 run, so trace.wall_s compares with wall_s
            with w.trace_hooks():
                traced = w.run_pass("t0")
            untraced = w.run_pass("u1")
            passes = [traced, untraced]
        else:
            passes = []
            t_meas = time.perf_counter()
            while not passes or time.perf_counter() - t_meas < args.seconds:
                passes.append(w.run_pass(f"p{len(passes)}"))

        t_check = time.perf_counter()
        attempted, failures = w.check(passes)
        check_s = time.perf_counter() - t_check
        if not args.trace:
            metrics = {"setup_s": setup_s, **w.e2e(passes)}
        jvm_peak_rss_mb = b.jvm_peak_rss_mb()
        jvm_stamp = b.jvm_microbench()
        b.stop()
        vm_stamp = bench.vm_microbench()

        if args.trace:
            jobs = harness.parse_event_log(os.path.join(run_dir, "eventlog"))
            # a layer the workload does not run reads 0
            layer = dict.fromkeys(layer_units, 0.0)
            layer.update(w.layers(jobs, "t0", traced))
            eng = harness.layer_totals(jobs, lambda s: s.split("/")[0] == "t0")
            layer["spark.jobs"] = eng["jobs"]
            layer["spark.tasks"] = eng["tasks"]
            layer["spark.shuffle_write_bytes"] = eng["shuffle_bytes"]
            layer["spark.spill_bytes"] = eng["spill_bytes"]
            layer["spark.gc_s"] = eng["gc_s"]
            layer["jvm.peak_rss_mb"] = jvm_peak_rss_mb
            layer["trace.wall_s"] = traced["wall_s"]
            # the event log is on for the whole session, so this is the cost
            # of the spans and wrappers only, plus whatever the session still
            # speeds up between the two passes; the event log's own cost shows
            # as trace.wall_s against the wall_s of --trace 0 runs
            layer["trace.overhead_s"] = traced["wall_s"] - untraced["wall_s"]
            metrics = layer
    finally:
        b.stop()
        b.cleanup()

    units = layer_units if args.trace else e2e_units
    if set(metrics) != set(units):
        raise RuntimeError(
            f"reported metrics differ from BENCHMARK.json: {sorted(set(metrics) ^ set(units))}"
        )
    record = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "cores": harness.CORES,
        "driver_memory": harness.DRIVER_MEMORY,
        "worker_pythonpath": os.environ.get("PYTHONPATH", ""),
        "jvm_peak_rss_mb": jvm_peak_rss_mb,
        "vm_microbench_s": vm_stamp,
        "jvm_microbench_s": jvm_stamp,
        "session_s": session_s,
        "oracle_s": w.oracle_s,
        "check_s": check_s,
        "passes": [
            {k: v for k, v in p.items() if isinstance(v, (int, float, dict)) and k[:8] != "counters"}
            for p in passes
        ],
        "failures": failures,
        "total_s": time.perf_counter() - t_start,
    }
    print(json.dumps(record))
    print(
        json.dumps(
            {
                "correct": not failures,
                "attempted": attempted,
                "failed": len(failures),
                "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
            }
        )
    )
    sys.stdout.flush()
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
