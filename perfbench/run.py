#!/usr/bin/env python3
"""Repository benchmark: one closed-loop client, one workload per run.

  python3 perfbench/run.py --workload flagship_uniform --seed 1 \\
      --seconds 3 --trace 0

Set-up (Spark, inputs, oracles), then one timed first
iteration, then warm iterations back to back until ``--seconds`` have
passed and the workload's minimum count of warm samples is reached.  Every iteration's answers are checked.  The last stdout line is
one JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics``,
where ``metrics`` holds every end-to-end metric of BENCHMARK.json with
``--trace 0`` and every per-layer metric with ``--trace 1``.  The line
before it, ``{"detail": ...}``, carries sample counts, error rate,
machine stamps and the per-iteration times.
"""

from __future__ import annotations

import time

T0 = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import signal  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

import harness  # noqa: E402

WORKLOADS = ["flagship_uniform", "flagship_hotcell", "kernel_reference", "registry_headline"]


def make_workload(name: str, dirs, seed: int, ncores: int, tracer):
    if name.startswith("flagship_"):
        from flagship import Flagship

        return Flagship(name, dirs, seed, ncores, tracer)
    if name == "kernel_reference":
        from kernel_ref import KernelReference

        return KernelReference(dirs, seed, ncores, tracer)
    from registry import RegistryHeadline

    return RegistryHeadline(dirs, seed, ncores, tracer)


def measure(wl, seconds: float, tracer) -> dict:
    """First iteration, then warm iterations until ``seconds`` pass and
    the workload has at least ``wl.min_warm`` of them."""
    walls, errors, attempted, failed = [], [], 0, 0

    def one(i: int) -> None:
        nonlocal attempted, failed
        attempted += 1
        if tracer is not None:
            tracer.iteration = i
        try:
            wall, errs = wl.iteration(i)
        except Exception as e:  # an iteration that raises is a failed one
            traceback.print_exc(file=sys.stderr)
            wall, errs = None, [f"iteration {i}: {type(e).__name__}: {e}"]
        if errs:
            failed += 1
            errors.extend(errs)
        walls.append(wall)

    one(0)
    start = time.perf_counter()
    i = 1
    while i <= wl.min_warm or time.perf_counter() - start < seconds:
        one(i)
        i += 1
    return {"walls": walls, "errors": errors, "attempted": attempted, "failed": failed}


def traced_layers(tracer, iterations: list[int]) -> dict[str, float]:
    """Median over warm iterations of each layer's self time, plus the
    traced wall and the share of it the layer spans account for."""
    from tracing import iteration_breakdown

    per_layer: dict[str, list[float]] = {}
    walls, coverage = [], []
    for i in iterations:
        layers, wall, cov = iteration_breakdown(tracer.spans, i)
        walls.append(wall)
        coverage.append(cov)
        for name, v in layers.items():
            per_layer.setdefault(name, []).append(v)
    out = {name: harness.median(v) for name, v in per_layer.items()}
    out["trace.wall_s"] = harness.median(walls)
    out["trace.coverage"] = harness.median(coverage)
    return out


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    try:
        harness.check_checkout()
        manifest = harness.load_manifest()
    except (harness.SetupError, OSError, ValueError) as e:
        print(f"perfbench: {e}", file=sys.stderr)
        return 2

    # a terminated run still stops Spark and removes its scratch
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ncores = harness.cores()
    dirs = harness.RunDirs(args.workload, args.seed)
    pinned = harness.pin_environment(dirs, ncores)
    stamp = harness.MachineStamp()
    tracer = None
    if args.trace:
        from tracing import Tracer

        tracer = Tracer()
    wl = make_workload(args.workload, dirs, args.seed, ncores, tracer)
    try:
        pre = time.perf_counter() - T0
        setup_s = pre + wl.setup()
        rss = harness.PeakRss()
        rss.start()
        if tracer is not None:
            from tracing import patched

            with patched(wl.trace_patches()):
                res = measure(wl, args.seconds, tracer)
        else:
            res = measure(wl, args.seconds, tracer)
        peak_mb = rss.stop()
        rows = wl.input_rows()
    finally:
        try:
            wl.close()
        finally:
            killed = harness.reap_children()
            dirs.close()

    walls = res["walls"]
    warm = [w for w in walls[1:] if w is not None] or [w for w in walls if w is not None]
    if not warm:
        print(f"perfbench: every iteration failed: {res['errors'][:3]}", file=sys.stderr)
        return 1
    first = walls[0] if walls[0] is not None else warm[0]
    wall = harness.median(warm)
    history = wl.counter_history
    kernel_keys = sorted(k for k in history[0] if k.startswith("kernel.")) if history else []
    retried = any(h.get("spark.failed_tasks", 0) for h in history)
    repeat = all(
        all(h.get(k) == history[0].get(k) for k in kernel_keys) for h in history[1:]
    )
    detail = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "cores": ncores,
        "pinned": pinned,
        "iterations": walls,
        "warm_samples": len(warm),
        "wall_s_percentile": harness.supported_percentile(warm),
        "error_rate": res["failed"] / res["attempted"],
        "errors": res["errors"][:10],
        "input_rows": rows,
        "kernel_counts_repeat": repeat,
        "kernel_counts_comparable": not retried,
        "killed_stragglers": killed,
        "phases": wl.phases,
        **stamp.finish(),
    }
    if tracer is not None:
        os.makedirs(dirs.traces, exist_ok=True)
        tracer.dump(os.path.join(dirs.traces, f"{args.workload}-seed{args.seed}.jsonl"))
        values = traced_layers(tracer, list(range(1, len(walls))) or [0])
        values.update(wl.layer_counts)
        values["kernel.counters_comparable"] = 0 if retried else 1
        specs = manifest["per_layer"]
        required = set()
    else:
        values = {
            "setup_s": setup_s,
            "first_wall_s": first,
            "wall_s": wall,
            "rows_per_s": rows / wall,
            "peak_rss_mb": peak_mb,
        }
        specs = manifest["end_to_end"]
        required = {m["name"] for m in specs}
    result = harness.summary(
        specs, values, attempted=res["attempted"], failed=res["failed"], required=required
    )
    print(json.dumps({"detail": detail}))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
