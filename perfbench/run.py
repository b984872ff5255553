"""CDC engine benchmark: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload tail_debezium --seed 1 --seconds 20 --trace 0

Run from the root of a checkout. Set-up (fixtures from the seed, the
Spark session, the workload's starting table) is timed as ``setup_s``;
then the workload runs for about ``--seconds`` and checks every result
against the replay oracle. ``--trace 0`` prints the end-to-end metrics,
``--trace 1`` wraps the program's public calls in spans and prints the
per-layer metrics; its spans go to ``.perfbench/out/``. The last line
of stdout is ``{"correct", "attempted", "failed", "metrics"}``; the line
before it holds diagnostics (session settings, CPU steal share, sample
counts, problems found). See perfbench/README.md.
"""

from __future__ import annotations

import sys

sys.dont_write_bytecode = True

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import subprocess  # noqa: E402
import time  # noqa: E402
import traceback  # noqa: E402

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import env  # noqa: E402

# batches whose lazy layers a traced run materialises
LAZY_SAMPLE = {"tail_debezium": [1, 2], "bulk_backfill": [1]}


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=["tail_debezium", "bulk_backfill"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, default=20)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    return ap.parse_args(argv)


def run(args) -> tuple[dict, dict]:
    """(result, diagnostics) of one workload run."""
    t_start = time.perf_counter()
    sys.path.insert(0, env.ROOT)
    import fixtures
    import workloads
    from spans import Tracer

    dirs = env.RunDirs(f"{args.workload}-s{args.seed}-t{args.trace}")
    env.export_env(dirs)
    spec = fixtures.spec_for(args.workload, args.seconds)

    # fixtures build in their own process while the JVM starts, so the
    # driver's peak RSS covers only the program's work
    fixture_proc = subprocess.Popen(
        [sys.executable, os.path.join(env.HERE, "fixtures.py"),
         "--workload", args.workload, "--seed", str(args.seed),
         "--seconds", str(args.seconds)],
        stdout=subprocess.PIPE, text=True)
    spark = None
    wl = None
    try:
        t = time.perf_counter()
        spark = env.start_spark(dirs)
        spark.range(1).count()
        jvm_s = time.perf_counter() - t
        out, _ = fixture_proc.communicate()
        if fixture_proc.returncode != 0:
            raise RuntimeError(f"fixture build exited {fixture_proc.returncode}")
        built = json.loads(out.strip().splitlines()[-1])
        fixture_dir, meta, _ = fixtures.load_or_build(args.workload, spec, args.seed)

        tracer = Tracer() if args.trace else None
        r = workloads.Run(spark, dirs, fixture_dir, meta, tracer)
        wl = workloads.WORKLOADS[args.workload](r)
        wl.setup()
        setup_s = time.perf_counter() - t_start

        if tracer is not None:
            tracer.patch_program()
        cpu0 = env.cpu_times()
        t = time.perf_counter()
        try:
            wl.measure()
        finally:
            if tracer is not None:
                tracer.unpatch()
        measured_s = time.perf_counter() - t
        steal = env.steal_share(cpu0, env.cpu_times())
        rss_driver = env.peak_rss_mb([os.getpid()])
        rss_jvm = env.peak_rss_mb([env.jvm_pid()])
        rss = rss_driver + rss_jvm

        if tracer is None:
            metrics = workloads.end_to_end(r, setup_s, rss)
        else:
            lazy = [workloads.materialise_lazy_layers(r, k)
                    for k in LAZY_SAMPLE[args.workload]]
            metrics = workloads.per_layer(r, lazy, measured_s)
            os.makedirs(env.OUT_DIR, exist_ok=True)
            spans = os.path.join(env.OUT_DIR,
                                 f"spans-{args.workload}-s{args.seed}.jsonl")
            tracer.dump(spans)
    finally:
        if wl is not None:
            wl.close()
        if spark is not None:
            env.stop_spark(spark)
        if fixture_proc.poll() is None:
            fixture_proc.kill()
        fixture_proc.wait()
        dirs.remove()

    diagnostics = {
        "session": env.session_conf(dirs),
        "spec": spec,
        "jvm_start_s": jvm_s,
        "fixture_s": built["s"],
        "fixture_cache_hit": built["cache_hit"],
        "measured_s": measured_s,
        "cpu_steal_share": steal,
        "peak_rss_mb": {"driver": rss_driver, "jvm": rss_jvm},
        "generator_lag_max_s": max(r.gen_lag_s, default=0.0),
        "samples": {"commit": len(r.commit_s), "freshness": len(r.freshness_s),
                    "lookup": len(r.lookup_ms), "cdf": len(r.cdf_s)},
        "commit_p50_s": workloads.p50(r.commit_s),
        "drain_s": r.drain_s,
        "scan_s": r.scan_s,
        "final_compact_s": r.final_compact_s,
        "commit_s": r.commit_s,
        "freshness_s": r.freshness_s,
        "lookup_ms": r.lookup_ms,
        "cdf_s": r.cdf_s,
        "trigger_s": r.epoch_s,
        "problems": r.problems,
    }
    if tracer is not None:
        # to set against an untraced run of the same seed
        diagnostics["spans_file"] = os.path.relpath(spans, env.ROOT)
        diagnostics["traced_ingest_events_per_s"] = r.events / sum(r.commit_s)
    result = {
        "correct": r.failed == 0,
        "attempted": r.attempted,
        "failed": r.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    return result, diagnostics


def main(argv=None) -> int:
    args = parse_args(argv)
    if not env.program_present():
        print(f"perfbench: no montandon_etl_spark package under {env.ROOT}; "
              f"run from the root of a checkout", file=sys.stderr)
        return 2
    try:
        result, diagnostics = run(args)
    except Exception:
        traceback.print_exc()
        return 1
    print(json.dumps({"diagnostics": diagnostics}, default=str))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
