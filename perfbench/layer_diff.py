"""Compare two sets of benchmark results, workload by workload and
layer by layer.

    python3 perfbench/layer_diff.py BEFORE AFTER [--benchmark BENCHMARK.json]

BEFORE and AFTER are each a result file written by ``perfbench/run.py``
(``.perfbench/results/<workload>.seed<N>.trace<T>.json``) or a
directory of them. Several files of one workload and trace setting are
reduced to the median of each metric, and its spread is the distance
between the first and third quartiles over the median. End-to-end
metrics are flagged against the bound BENCHMARK.json fixes for them:

- ``unresolved`` when either side has fewer than two runs or a spread
  wider than the bound, unless every AFTER run reads better than every
  BEFORE run (``better``);
- otherwise ``REGRESSION`` when AFTER's median is worse than BEFORE's
  by more than the bound, ``better`` when it is better by more than
  the bound, ``same`` otherwise.

Per-layer metrics (traced runs) are listed by layer with their change;
they carry no bound. Exits 1 when any end-to-end metric regressed.
"""
from __future__ import annotations

import argparse
import glob
import json
import os
import statistics
import sys


def _load(path: str) -> dict[tuple[str, int], dict]:
    files = sorted(glob.glob(os.path.join(path, "*.json"))) if os.path.isdir(path) else [path]
    runs: dict[tuple[str, int], list[dict]] = {}
    for fn in files:
        with open(fn) as f:
            doc = json.load(f)
        if "workload" in doc:
            runs.setdefault((doc["workload"], doc["trace"]), []).append(doc)
    out = {}
    for key, docs in runs.items():
        names = {n for d in docs for n in d["all_metrics"]}
        out[key] = {
            "n": len(docs),
            "failed": sum(d["failed"] for d in docs),
            "values": {
                n: [d["all_metrics"][n]["value"] for d in docs if n in d["all_metrics"]]
                for n in names
            },
            "metrics": {
                n: (
                    statistics.median(d["all_metrics"][n]["value"] for d in docs if n in d["all_metrics"]),
                    next(d["all_metrics"][n]["unit"] for d in docs if n in d["all_metrics"]),
                )
                for n in names
            },
        }
    return out


def _spread(xs: list[float]) -> float | None:
    """Interquartile range over the median; None below two runs."""
    if len(xs) < 2 or statistics.median(xs) == 0:
        return None
    q = statistics.quantiles(xs, n=4)
    return (q[2] - q[0]) / abs(statistics.median(xs))


def _change(a: float, b: float) -> float | None:
    return None if a == 0 else (b - a) / abs(a)


def _fmt(x: float | None) -> str:
    return "      n/a" if x is None else f"{100 * x:+8.1f}%"


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("before")
    ap.add_argument("after")
    ap.add_argument(
        "--benchmark",
        default=os.path.join(os.path.dirname(os.path.abspath(__file__)), "..", "BENCHMARK.json"),
    )
    args = ap.parse_args()
    with open(args.benchmark) as f:
        bench = json.load(f)
    e2e = {m["name"]: m for m in bench["end_to_end"]}
    layer_better = {m["name"]: m["better"] for m in bench["per_layer"]}
    before, after = _load(args.before), _load(args.after)
    regressed = False
    for wl in [w["name"] for w in bench["workloads"]]:
        for trace in (0, 1):
            a, b = before.get((wl, trace)), after.get((wl, trace))
            if a is None or b is None:
                continue
            kind = "per-layer (traced)" if trace else "end-to-end"
            print(f"== {wl} · {kind} · runs {a['n']} -> {b['n']} · failed {a['failed']} -> {b['failed']}")
            names = sorted(set(a["metrics"]) & set(b["metrics"]))
            if not trace:
                for n in [n for n in e2e if n in names]:
                    (va, unit), (vb, _) = a["metrics"][n], b["metrics"][n]
                    ch = _change(va, vb)
                    bound = e2e[n]["bound"]
                    sign = 1 if e2e[n]["better"] == "lower" else -1
                    xa, xb = a["values"][n], b["values"][n]
                    sa, sb = _spread(xa), _spread(xb)
                    all_better = sign * max(x * sign for x in xb) < sign * min(x * sign for x in xa)
                    worse = ch is not None and sign * ch > bound
                    better = ch is not None and -sign * ch > bound
                    if sa is None or sb is None or max(sa, sb) > bound:
                        flag = "better" if all_better else "unresolved"
                    else:
                        flag = "REGRESSION" if worse else ("better" if better else "same")
                    regressed |= flag == "REGRESSION"
                    spreads = " / ".join("  n/a" if x is None else f"{x:.3f}" for x in (sa, sb))
                    print(
                        f"  {n:24s} {va:12.4f} -> {vb:12.4f} {unit:5s} {_fmt(ch)}"
                        f"  spread {spreads}  bound {bound:.2f}  {flag}"
                    )
                continue
            layer = None
            for n in [n for n in names if n in layer_better]:
                if n.split(".")[0] != layer:
                    layer = n.split(".")[0]
                    print(f"  [{layer}]")
                (va, unit), (vb, _) = a["metrics"][n], b["metrics"][n]
                print(f"    {n:38s} {va:16.4f} -> {vb:16.4f} {unit:6s} {_fmt(_change(va, vb))}")
    return 1 if regressed else 0


if __name__ == "__main__":
    sys.exit(main())
