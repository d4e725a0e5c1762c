"""Layered benchmark for yuki_spark.

    python3 perfbench/run.py --workload {analytics,retrieval,curation_dag}
        --seed N --seconds S --trace {0,1}

Run from the root of a checkout (the directory holding ``yuki_spark/``,
``__spark_entry__.py`` and ``bench.py``). One process sets up twice (each a fresh engine import and a new ``local[N]`` session on a
new JVM, N = min(4, cores)) and keeps the last session; it runs the
workload over the engine's sf0.01 test catalog (``perfbench/data``) as
a closed loop with one client for ``--seconds`` after its cold pass,
checks the outputs, and prints every metric with its unit, then one
JSON line: ``{"correct", "attempted", "failed", "metrics"}``.

``--trace 0`` reports the end-to-end metrics (BENCHMARK.json
``end_to_end``); ``--trace 1`` reports the per-layer metrics
(``per_layer``) from spans recorded around each layer's entry points
and from Spark's event log. The seed only shuffles the key order of
each pass; the inputs are the same for every seed.

Everything a run writes lives under ``<checkout>/.perfbench/``; the
per-run directory (deposit stores, Spark temp dirs, event log) is
removed at exit, and the full result, with per-pass and per-key
detail, is kept as ``.perfbench/results/<workload>.seed<N>.trace<T>.json``
for ``perfbench/layer_diff.py``.
"""
from __future__ import annotations

import argparse
import json
import os
import signal
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
CHECKOUT = os.path.dirname(HERE)

# Input catalog: the engine's sf0.01 test catalog (TPC-H-like tables at
# scale 0.01, 10k events, 500 documents, 500 embeddings), read in place.
DATA = os.path.join(HERE, "data", "sf0.01")
# set-ups per run; setup_s is their median
SETUPS = 2


def _args() -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=("analytics", "retrieval", "curation_dag"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args()


def _declared(kind: str) -> list[dict]:
    with open(os.path.join(CHECKOUT, "BENCHMARK.json")) as f:
        return json.load(f)[kind]


def main() -> int:
    args = _args()
    # a SIGTERM (an outer timeout) still runs the cleanup below
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    for need in ("yuki_spark", "__spark_entry__.py", "bench.py", DATA):
        if not os.path.exists(os.path.join(CHECKOUT, need)):
            print(f"not a yuki_spark checkout: {CHECKOUT} has no {need}", file=sys.stderr)
            return 2
    sys.path.insert(0, CHECKOUT)
    import harness

    work = harness.WorkDir(CHECKOUT, args.workload, args.seed, args.trace)
    try:
        return _run(args, work)
    finally:
        work.remove()


def _setup(app: str):
    """One set-up: a fresh import of the engine, a session on a new
    JVM, the entry import and one trivial query (so the cold pass is
    not charged the class loading every query pays once)."""
    for name in [m for m in sys.modules if m.split(".")[0] in ("yuki_spark", "__spark_entry__")]:
        del sys.modules[name]
    t0 = time.perf_counter()
    from yuki_spark.session import get_spark

    spark = get_spark(app)
    spark.sparkContext.setLogLevel("ERROR")
    t1 = time.perf_counter()
    import __spark_entry__  # noqa: F401

    t2 = time.perf_counter()
    spark.range(1000).selectExpr("sum(id)").collect()
    t3 = time.perf_counter()
    return spark, {"session": t1 - t0, "entry_import": t2 - t1, "warm_up": t3 - t2}


def _run(args, work) -> int:
    import harness
    import spans as sp
    import workloads

    harness.configure_env(CHECKOUT, DATA, work, event_log=bool(args.trace))
    import pyspark.sql  # noqa: F401 — pyspark's own import is not the engine's set-up

    setups: list[dict[str, float]] = []
    spark = None
    try:
        for _ in range(SETUPS):
            if spark is not None:
                harness.stop_spark(spark)
                spark = None
            spark, parts = _setup(f"perfbench-{args.workload}")
            setups.append(parts)
        work.stores(0)
        run = workloads.Run(spark, DATA, args.seed, bool(args.trace), work)
        run.java_pid = harness.jvm_pid(spark)
        if args.trace:
            sp.install()
        workloads.WORKLOADS[args.workload](run, args.seconds)
        run.put("setup_s", harness.median([sum(p.values()) for p in setups]), "s")
        run.put("peak_rss_mb", run.rss_mb, "MB")
    finally:
        if spark is not None:
            harness.stop_spark(spark)

    run.detail["setups_s"] = setups
    if args.trace:
        run.put("session.start_s", harness.median([p["session"] for p in setups]), "s")
        workloads.spark_layers(run, work.events)
        sp.TRACER.dump(os.path.join(work.results, f"{work.tag}.spans.jsonl"))

    kind = "per_layer" if args.trace else "end_to_end"
    declared = _declared(kind)
    metrics = {}
    for m in declared:
        if m["name"] not in run.metrics:
            run.fail("report", KeyError(f"metric {m['name']} not measured"))
            continue
        value, _unit = run.metrics[m["name"]]
        metrics[m["name"]] = {"value": value, "unit": m["unit"]}

    failed_ratio = run.failed / max(run.attempted, 1)
    for name, (value, unit) in sorted(run.metrics.items()):
        print(f"{name:42s} {value:16.6f} {unit}")
    print(f"{'failed_ratio':42s} {failed_ratio:16.6f} ratio")
    if "op_samples" in run.detail:
        pct, n = run.detail["op_tail_percentile"], run.detail["op_samples"]
        print(f"op_tail_s is p{pct:g} of {n} operation samples")
    for err in run.errors:
        print(f"failure: {err}")
    result = {
        "correct": not run.mismatches and run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": metrics,
    }
    full = {
        **result,
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "failed_ratio": failed_ratio,
        "all_metrics": {k: {"value": v, "unit": u} for k, (v, u) in run.metrics.items()},
        "detail": run.detail,
        "errors": run.errors,
        "cpus": harness.CPUS,
    }
    with open(os.path.join(work.results, f"{work.tag}.json"), "w") as f:
        json.dump(full, f, indent=1)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
