"""Run one benchmark workload against the engine in the current
directory and print its metrics.

    python3 perfbench/run.py --workload serve_broker --seed 1 --seconds 6 --trace 0

Run from the root of a checkout (the directory holding
``atire_spark/`` and ``BENCHMARK.json``). The last line of standard
output is one JSON object: ``correct``, ``attempted``, ``failed`` and
``metrics`` — every end-to-end metric of BENCHMARK.json with
``--trace 0``, every per-layer metric with ``--trace 1``. A traced run
also writes its spans to ``.perfbench_work/trace/`` and, when an
untraced run of the same workload and seed left its result in
``.perfbench_work/results/``, reports the tracing overhead against it.
Scratch data lives under ``.perfbench_work/run-<pid>/`` and is removed
at exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import traceback

WORKLOADS = ("serve_broker", "ingest_alert")


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def load_manifest(root: str) -> dict:
    with open(os.path.join(root, "BENCHMARK.json")) as fh:
        return json.load(fh)


def report(metrics: dict, specs: list[dict]) -> dict:
    missing = [s["name"] for s in specs if s["name"] not in metrics]
    if missing:
        raise RuntimeError(f"workload did not produce metrics {missing}")
    return {
        s["name"]: {"value": float(metrics[s["name"]]), "unit": s["unit"]}
        for s in specs
    }


def main(argv) -> int:
    args = parse_args(argv)
    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, "atire_spark")):
        print(
            f"perfbench: no atire_spark/ under {root}; run from the root of "
            "a checkout of the engine",
            file=sys.stderr,
        )
        return 2
    manifest = load_manifest(root)
    base = os.path.join(root, ".perfbench_work")
    work = os.path.join(base, f"run-{os.getpid()}")

    from common import prepare_env, remove_stale_runs

    remove_stale_runs(base)
    os.makedirs(work)
    prepare_env(root, work)
    try:
        return run(args, manifest, base, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def run(args, manifest: dict, base: str, work: str) -> int:
    import importlib

    from common import RssSampler, jvm_pid, start_session, stop_session
    from spans import Tracer, attribute, jobs_and_stages, read_event_log
    from stats import median, tail
    from workload import Ctx, Stopwatch

    module = importlib.import_module(args.workload)
    trace = bool(args.trace)
    tracer = Tracer(enabled=trace)
    ctx = Ctx(work=work, seed=args.seed, seconds=args.seconds, trace=trace, tracer=tracer)
    setup = Stopwatch()
    with setup, tracer.span("session.start"):
        spark = start_session(work, trace)
    tracer.sc = spark.sparkContext
    sampler = RssSampler(jvm_pid())
    try:
        res = module.run(ctx, spark, setup)
    finally:
        peak_mb = sampler.stop()
        stop_session(spark)
    res.e2e["setup_s"] = setup.seconds
    res.e2e["peak_rss_mb"] = peak_mb

    for name, xs in sorted(res.samples.items()):
        t = tail(xs)
        tail_txt = f"p{t[0]}={t[1]:.4g}" if t else "tail n/a (<20 samples)"
        print(f"{args.workload} {name}: n={len(xs)} median={median(xs):.4g} {tail_txt}")
    for k, v in sorted(res.e2e.items()):
        print(f"{args.workload} {k} = {v:.6g}")

    results = os.path.join(base, "results")
    os.makedirs(results, exist_ok=True)
    key = f"{args.workload}-seed{args.seed}"
    if trace:
        jobs, stages = jobs_and_stages(read_event_log(os.path.join(work, "events")))
        attribution = attribute(jobs, stages)
        layer = module.layer_metrics(ctx, res, attribution)
        layer["session.start_s"] = tracer.named("session.start")[0].seconds
        layer["trace.query_p50_ms"] = res.e2e["query_p50_ms"]
        for spec in manifest["per_layer"]:
            layer.setdefault(spec["name"], 0.0)  # a layer this workload does not run
        trace_dir = os.path.join(base, "trace")
        os.makedirs(trace_dir, exist_ok=True)
        tracer.write(os.path.join(trace_dir, f"{key}.jsonl"), attribution)
        untraced = os.path.join(results, f"{key}-trace0.json")
        if os.path.exists(untraced):
            with open(untraced) as fh:
                ref = json.load(fh)["query_p50_ms"]
            over = res.e2e["query_p50_ms"] - ref
            print(
                f"{args.workload} tracing overhead on query_p50_ms: "
                f"{over:+.1f} ms ({100 * over / ref:+.1f}%) vs the untraced run"
            )
        metrics = report(layer, manifest["per_layer"])
    else:
        metrics = report(res.e2e, manifest["end_to_end"])
    with open(os.path.join(results, f"{key}-trace{args.trace}.json"), "w") as fh:
        json.dump(res.e2e, fh)

    for why in res.errors:
        print(f"CORRECTNESS GATE FAILED: {why}", file=sys.stderr)
    print(
        json.dumps(
            {
                "correct": res.failed == 0,
                "attempted": res.attempted,
                "failed": res.failed,
                "metrics": metrics,
            }
        )
    )
    return 0 if res.failed == 0 else 3


if __name__ == "__main__":
    try:
        sys.exit(main(sys.argv[1:]))
    except Exception:
        traceback.print_exc()
        sys.exit(1)
