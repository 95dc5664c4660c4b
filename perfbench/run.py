#!/usr/bin/env python3
"""Run one benchmark workload against the engine in this checkout.

    python3 perfbench/run.py --workload maintain --seed 1 --seconds 10 --trace 0

Each run is one closed-loop client: a single process that sets up
``SETUP_REPS`` times (the last set-up stays), runs one unmeasured warm-up
cycle, then repeats measured cycles until ``--seconds`` have passed (at
least the workload's ``min_cycles``). Every output is checked outside the
timed calls.

stdout carries two JSON lines: a self-describing record of the run, then the
result ``{"correct", "attempted", "failed", "metrics"}``. ``--trace 0``
reports the end-to-end metrics; ``--trace 1`` alternates untraced and traced
cycles, reports the per-layer metrics of the traced ones and writes every
span to ``.perfbench_traces/``. The metric names and units are read from
BENCHMARK.json; a metric the run cannot produce makes the result incorrect.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from perfbench import stats  # noqa: E402

SETUP_REPS = 3
MAX_CORES = 4
SPEC_FILE = os.path.join(REPO, "BENCHMARK.json")


def _load(name: str):
    if name == "maintain":
        from perfbench.maintain import Maintain

        return Maintain
    from perfbench.catalog import Catalog

    return Catalog


def _report(values: dict, specs: list[dict]) -> dict:
    """The metrics BENCHMARK.json lists in ``specs``, with their units; one
    the run did not produce reads None."""
    return {m["name"]: {"value": values.get(m["name"]), "unit": m["unit"]} for m in specs}


def _end_to_end(rec, setup_s: list[float]) -> dict:
    lookups = rec.samples.get("lookup", [])
    return {
        "setup_s": stats.median(setup_s),
        "cycle_s": rec.cycle_median(traced=False),
        "lookup_ms_p50": 1e3 * stats.median(lookups) if lookups else None,
    }


def run(args, spec: dict) -> tuple[dict, dict]:
    from perfbench import harness, layers
    from perfbench.trace import SparkCounters, Tracer

    workload_cls = _load(args.workload)
    cores = min(MAX_CORES, os.cpu_count() or 1) if workload_cls.uses_spark else None
    root = harness.RunRoot()
    wl = None
    try:
        record = harness.environment(cores, root, args.seed)
        steal_start = harness.steal_s()
        wl = workload_cls(args.seed, root, cores)
        setup_s = []
        for _ in range(SETUP_REPS):
            t = time.perf_counter()
            wl.setup()
            setup_s.append(time.perf_counter() - t)

        rec = harness.Recorder(args.workload)
        rec.begin_cycle(0, measuring=False)
        t = time.perf_counter()
        wl.warm_up(rec)
        warm_up_s = time.perf_counter() - t

        tracer = None
        if args.trace:
            counters = SparkCounters(wl.spark.sparkContext) if wl.uses_spark else None
            tracer = Tracer(counters)
        deadline = time.perf_counter() + args.seconds
        i = 0
        while i < workload_cls.min_cycles[args.trace] or time.perf_counter() < deadline:
            i += 1
            traced = tracer is not None and i % 2 == 0
            gc.collect()  # every cycle starts from the same heap state
            rec.begin_cycle(i, measuring=True, tracer=tracer if traced else None)
            if traced:
                tracer.cycle = i
                layers.install(tracer)
            try:
                wl.cycle(rec)
                rec.end_cycle()
            except harness.OpFailed:
                pass  # counted by the recorder; the next cycle starts afresh
            finally:
                if traced:
                    tracer.restore()

        lookups = rec.samples.get("lookup", [])
        tail = stats.tail(lookups)
        record.update(
            {
                "workload": args.workload,
                "trace": args.trace,
                "seconds": args.seconds,
                "setup_s_samples": setup_s,
                "warm_up_s": warm_up_s,
                "cycles": [
                    {"cycle_s": c["cycle_s"], "traced": c["traced"]} for c in rec.cycles
                ],
                "lookups": len(lookups),
                "lookup_ms_samples": [1e3 * dt for dt in lookups],
                "lookup_ms_tail": None if tail is None else {
                    "percentile": tail[0], "value": 1e3 * tail[1], "samples": len(lookups),
                },
                "operations": wl.details(rec),
                "ops_failed_frac": stats.failure_share(rec.attempted, len(rec.failed)),
                "errors": rec.errors[:5],
                "loadavg_end": os.getloadavg(),
                "cpu_steal_s": None if steal_start is None else harness.steal_s() - steal_start,
            }
        )
        if tracer is not None:
            metrics = _report(layers.run_metrics(tracer, rec.cycles), spec["per_layer"])
            os.makedirs(harness.TRACE_DIR, exist_ok=True)
            path = os.path.join(
                harness.TRACE_DIR, f"{args.workload}-seed{args.seed}-{os.getpid()}.json"
            )
            tracer.write(path, {"workload": args.workload, "seed": args.seed})
            record["trace_file"] = os.path.relpath(path, REPO)
            record["trace_bookkeeping_s"] = tracer.bookkeeping_s
        else:
            metrics = _report(_end_to_end(rec, setup_s), spec["end_to_end"])
        complete = bool(rec.cycles) and all(m["value"] is not None for m in metrics.values())
        result = {
            "correct": complete and not rec.failed,
            "attempted": rec.attempted,
            "failed": len(rec.failed),
            "metrics": metrics,
        }
        return record, result
    finally:
        try:
            if wl is not None:
                wl.close()
        finally:
            root.close()


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    with open(SPEC_FILE) as f:
        spec = json.load(f)
    ap.add_argument("--workload", required=True, choices=[w["name"] for w in spec["workloads"]])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    try:
        import circus_train_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: the engine is not importable from {REPO}: {e}", file=sys.stderr)
        return 2
    record, result = run(args, spec)
    print(json.dumps({"perfbench": record}))
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
