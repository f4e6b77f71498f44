"""sparkstore benchmark: one workload, one seed, one run.

    python3 perfbench/run.py --workload bandit_loop --seed 1 --seconds 4 --trace 0

Run from the repository root. The run sets up its inputs and session
several times, warms up untimed, then runs timed passes of the workload's
operations until ``--seconds`` have gone by (at least one), checks the
outputs, and prints one JSON line as the last line of standard output::

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With ``--trace 0`` the metrics are BENCHMARK.json's end-to-end metrics;
with ``--trace 1`` they are its per-layer metrics, from span wrappers and
Spark's event log. A record of the run (host context, every operation's
timings, failures and, when traced, the spans) is written to
``perfbench/results/``.
"""

from __future__ import annotations

import argparse
import json
import os
import signal
import statistics
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

SETUPS = 3


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    # a terminated run still stops its JVM and removes its state (finally)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    # The program under test; a checkout without it fails here, before any
    # work and without a result line.
    import mlops_pipelines_featurestore_gcp_spark  # noqa: F401

    import bench
    from perfbench import harness, metrics
    from perfbench.workloads import WORKLOADS

    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    if args.workload not in WORKLOADS:
        raise SystemExit(f"unknown workload {args.workload!r}; known: {sorted(WORKLOADS)}")

    # host context, before the JVM exists (bench.py's probes, unmodified)
    nproc = harness.host_cpus()
    host = {
        "nproc": nproc,
        "loadavg_before": os.getloadavg(),
        "cpu_jiffies_before": harness.cpu_jiffies(),
        "calib_s": bench._calibrate(reps=1),
        "calib_mc_s": bench._calibrate_multicore(nproc, reps=1),
    }

    run = harness.Run(ROOT, args.workload, args.seed, bool(args.trace))
    wl = WORKLOADS[args.workload](run)
    record: dict = {"workload": args.workload, "seed": args.seed, "trace": args.trace, "host": host}
    try:
        setup_times, session_times = [], []
        for _ in range(SETUPS):
            run.stop_session()  # tearing the previous one down is not set-up
            t0 = time.perf_counter()
            run.start_session()
            session_times.append(time.perf_counter() - t0)
            wl.setup()
            setup_times.append(time.perf_counter() - t0)

        run.tracer.install()
        # the warm-up (JIT, whole-stage codegen, Python workers) is traced
        # as pass 0 but not timed as a pass
        run.tracer.pass_no = 0
        t0 = time.perf_counter()
        wl.warm_up()
        warmup_s = time.perf_counter() - t0
        pass_times = []
        start = time.perf_counter()
        while len(pass_times) < wl.min_passes or time.perf_counter() - start < args.seconds:
            p = len(pass_times) + 1
            run.tracer.pass_no = p
            t0 = time.perf_counter()
            wl.run_pass(p)
            pass_times.append(time.perf_counter() - t0)
        run.tracer.pass_no = -1
        run.tracer.uninstall()

        wl.checks()
        run.check("no_active_streams", lambda: _streams_problem(run.stop_streams()))
        peak_rss = run.peak_rss_mb()
        if run.tracer.enabled:
            wl.finish_trace()
        run.stop_session()

        if args.trace:
            counters = run.tracer.attribute(os.path.join(run.run_dir, "events"))
            values = metrics.layer_metrics(run.tracer, counters, wl.extra, session_times, pass_times)
            values["bench.peak_rss_mb"] = peak_rss
            wanted = spec["per_layer"]
            record["spans"] = [
                dict(vars(s), wall=s.wall, counters=counters.get(s.id)) for s in run.tracer.spans
            ]
        else:
            values = {"setup_s": statistics.median(setup_times), "pass_s": statistics.median(pass_times)}
            wanted = spec["end_to_end"]
        host["loadavg_after"] = os.getloadavg()
        host["steal_share"] = harness.steal_share(host.pop("cpu_jiffies_before"), harness.cpu_jiffies())
        record.update(
            setup_s=setup_times,
            session_s=session_times,
            warmup_s=warmup_s,
            pass_s=pass_times,
            peak_rss_mb=peak_rss,
            op_s=run.op_times,
            failures=run.failures,
        )
    finally:
        run.close()

    result = {
        "correct": not run.failures,
        "attempted": run.attempted,
        "failed": len(run.failures),
        "metrics": {m["name"]: {"value": float(values[m["name"]]), "unit": m["unit"]} for m in wanted},
    }
    record["result"] = result
    out_dir = os.path.join(ROOT, "perfbench", "results")
    os.makedirs(out_dir, exist_ok=True)
    with open(os.path.join(out_dir, f"{args.workload}-seed{args.seed}-trace{args.trace}.json"), "w") as fh:
        json.dump(record, fh, indent=1, default=str)
    for f in run.failures:
        print(f"# FAILED {f['workload']}/{f['op']}: {f['error'][:300]}", file=sys.stderr)
    print(
        f"# {args.workload} seed={args.seed}: setup {setup_times} warmup {warmup_s} pass {pass_times} "
        f"calib_s={host['calib_s']:.3f} calib_mc_s={host['calib_mc_s']:.3f} nproc={nproc} steal={host.get('steal_share', 0):.3f}",
        file=sys.stderr,
    )
    print(json.dumps(result))
    return 0


def _streams_problem(still_active: int):
    return f"{still_active} streams still active after the passes; stopped" if still_active else None


if __name__ == "__main__":
    sys.exit(main())
