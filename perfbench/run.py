#!/usr/bin/env python3
"""The repository benchmark.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. It builds nothing: it imports
``pyairbyte_spark`` from the directory it runs in, drives one seeded
workload through the package's public API for ``--seconds`` seconds,
checks every output against a reference outside the timed interval, and
prints a readable summary followed, as the last line, by one JSON object
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0`` the
metrics are the end-to-end metrics ``BENCHMARK.json`` declares; with
``--trace 1`` they are its per-layer metrics (``metrics.py`` lists both
sets), and the run's spans are
written to ``.perfbench/results/<run id>.spans.jsonl``. The exit code is
0 when every check passed, 1 when one failed, 2 when the run could not
start (for example when the package is missing).

Workloads (``BENCHMARK.json`` declares both and says why each exists):

- ``incremental_sync`` (``incremental.py``): resumable syncs of an
  append stream and a merge stream into a preloaded cache, each followed
  by rounds of a fixed mix of reads of the same tables;
- ``transform_pass`` (``transform.py``): seven operator-library rows over
  tables of the library's sf0.1 sample shape, each materialised by a
  ``noop`` write.

End-to-end metrics, reported by every workload:

- ``setup_s``: process start to the first timed operation (Spark session,
  input generation, preload, checks and warm-up);
- ``latency_p50_ms``: median wall time of the workload's user-facing
  operation: one round of the read mix, its six reads summed
  (incremental_sync); one pass of the seven rows, the sum of their
  median times (transform_pass);
- ``records_per_s``: records one sync lands over the median sync wall
  time (incremental_sync); input rows of the pass's tables over the
  pass time (transform_pass).

The summary also prints, per workload, the figures that only one
workload has (``sync_p50_s``, ``read_p50_ms``, ``read_p90_ms``,
``space_amp``, ``pass_s``) with their sample counts, and ``error_rate``,
the share of attempted operations (warm-up and checks included) that
raised or failed their check. ``error_rate`` is not a declared metric
because it is 0 on a correct program; the JSON's ``failed`` and
``attempted`` carry it.

Which end-to-end metric each per-layer metric should move, and on which
workload:

- ``session.*`` → ``setup_s``, every workload (the RSS peaks only report);
- ``sources.*`` and ``processor.self_s`` → ``records_per_s`` on
  incremental_sync (``sources.drain_rec_per_s`` is the pump's ceiling);
- ``writers.append_*``, ``writers.merge_*``, ``writers.self_s``,
  ``writers.commits``, ``writers.live_files``, ``writers.space_amp``,
  ``state.*``, ``fileio.self_s``, ``fileio.sync_*`` and
  ``spark.sync_jobs`` → ``records_per_s`` on incremental_sync;
- ``writers.<read op>_*``, ``datasets.to_arrow_*``, the three pruning
  ratios and ``fileio.read_*`` → ``latency_p50_ms`` on incremental_sync,
  and nothing on transform_pass;
- ``queries.*`` → ``latency_p50_ms`` and ``records_per_s`` on
  transform_pass only;
- ``trace.*`` are the end-to-end metrics measured with tracing on; their
  difference from the untraced run of the same seed is the tracing
  overhead (``overhead.py`` prints it from saved results).

Layer metrics a workload does not exercise read 0 in its traced run.
"""

import time

T_PROCESS = time.monotonic()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORKLOADS = ("incremental_sync", "transform_pass")


def parse_args(argv: list[str]) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def execute(args: argparse.Namespace):
    """Run one workload; returns (Result, metadata). Raises when the run
    cannot start."""
    from perfbench.harness import Context, peak_rss_mb

    ctx = Context(workload=args.workload, seed=args.seed, seconds=args.seconds,
                  trace=bool(args.trace), t_process=T_PROCESS, root=os.getcwd())
    ctx.prepare_env()
    try:
        import importlib

        from perfbench.tracing import Tracer

        module = importlib.import_module(
            {"incremental_sync": "perfbench.incremental",
             "transform_pass": "perfbench.transform"}[args.workload]
        )
        prepared = module.prepare(ctx)
        ctx.mark("inputs_ready")
        spark = ctx.start_spark()
        tracer = Tracer(ctx.run_id, enabled=ctx.trace, spark=spark)
        res = module.run(ctx, tracer, prepared)
        meta = ctx.metadata()
        if tracer.enabled:
            res.layers["session.start_s"] = ctx.session_start_s
            res.layers["session.py_peak_rss_mb"] = peak_rss_mb()
            res.layers["session.jvm_peak_rss_mb"] = peak_rss_mb(ctx.jvm_pid())
            for k, v in res.e2e.items():
                res.layers[f"trace.{k}"] = v
            spans_path = os.path.join(ctx.results, f"{ctx.run_id}.spans.jsonl")
            tracer.dump(spans_path)
            meta["spans"] = os.path.relpath(spans_path, ctx.root)
    finally:
        ctx.stop()
        ctx.cleanup()
    meta["results_dir"] = os.path.relpath(ctx.results, ctx.root)
    return res, meta, ctx


def main(argv: list[str]) -> int:
    args = parse_args(argv)
    # Import the benchmark and the package from the checkout root, not
    # from this script's directory.
    sys.path[0] = ROOT
    if os.getcwd() not in sys.path:
        sys.path.insert(0, os.getcwd())
    try:
        from perfbench.metrics import END_TO_END, PER_LAYER

        res, meta, ctx = execute(args)
    except Exception:  # noqa: BLE001 - report and exit without a result line
        traceback.print_exc()
        return 2

    declared = PER_LAYER if args.trace else END_TO_END
    produced = res.layers if args.trace else res.e2e
    undeclared = sorted(set(produced) - set(declared))
    if undeclared:
        print(f"undeclared metrics {undeclared}", file=sys.stderr)
        return 2
    missing = sorted(set(END_TO_END) - set(res.e2e))
    if missing:
        res.errors.append(f"no successful timed operation for {missing}")
    # Per-layer metrics of layers a workload does not exercise read 0.
    metrics = {
        name: {"value": float(produced.get(name, 0.0)), "unit": unit}
        for name, (unit, _) in declared.items()
        if args.trace or name in produced
    }
    correct = res.failed == 0 and not res.errors
    out = {
        "correct": correct,
        "attempted": max(res.attempted, 1),
        "failed": res.failed,
        "metrics": metrics,
    }
    error_rate = res.failed / max(res.attempted, 1)
    summary = {**res.summary, "error_rate": (error_rate, "share")}
    with open(os.path.join(ctx.results, f"{ctx.run_id}.json"), "w", encoding="utf-8") as f:
        json.dump({**out, "summary": summary, "errors": res.errors, "meta": meta,
                   "samples": res.samples}, f, indent=1)
    print(f"# meta {json.dumps(meta)}")
    for e in res.errors:
        print(f"# error {e}")
    for name, m in metrics.items():
        print(f"# {args.workload} {name} = {m['value']} {m['unit']}")
    for name, (v, unit) in summary.items():
        print(f"# {args.workload} summary {name} = {v:.6g} {unit}")
    print(json.dumps(out))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
