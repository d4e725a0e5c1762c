"""The three workloads: what each runs, times and checks.

``analytics`` and ``retrieval`` run a fixed key list as a closed loop
with one client: a cold first pass, the oracle check and one untimed
warm-up pass, then full passes over the list (each shuffled by the
seed) until the run's seconds are spent. Each key is built, then
executed with a ``noop`` write (``bench.py``'s protocol).
``curation_dag`` runs the curation Pipeline cold on fresh stores, then
(unchanged rerun, rerun with ``deduped`` bumped) pairs until the run's
seconds are spent.

``BENCHMARK.json`` runs ``analytics`` and ``curation_dag``;
``retrieval`` (six sim keys over sim-family deposits) stays runnable by
hand: its plan building in the Python process is a chain of py4j round trips,
and on a host whose CPUs are stolen in bursts its pass time spread
wider than any bound the benchmark may set.

End-to-end metrics, reported by every workload:

- ``setup_s``: median of the run's set-ups, each a fresh import of the
  engine, a new session on a new JVM, the entry import and a warm-up
  query (``run.py``);
- ``cold_s``: the cold pass (keyed: every key once on a fresh JVM and
  empty deposit stores, which for ``retrieval`` builds the sim-family
  deposits; ``curation_dag``: the cold DAG run);
- ``pass_s``: median wall time of one steady pass (keyed: every key
  once; ``curation_dag``: one unchanged rerun plus one partial rerun);
- ``peak_rss_mb``: peak RSS of the Python process plus its JVM;
- ``op_p50_s`` / ``op_tail_s`` (printed and kept in the result file,
  not gated): latency of one operation in the steady passes (keyed:
  one key; ``curation_dag``: one task that built, from the StatusStore
  journal, cold run included). The tail is the highest percentile with
  at least ten samples beyond it, never below the median.

A traced run (``--trace 1``) reports the per-layer numbers from spans
(``spans.py``) and checks that they account for the traced wall time:
``trace.unattributed_s`` is the time no layer span covers (the self
time of the umbrella spans ``key`` and ``pipeline``, plus the gaps
between operations), and ``trace.accounted`` is 1 when it is within
the tracing overhead ``trace.overhead_s``. On ``curation_dag`` the
LocalBackend's own work between task calls (the formatted explain it
logs per task) is such time.
"""
from __future__ import annotations

import os
import random
import time
from typing import Any

import harness
import spans as sp
from harness import Timeout

# Relational keys: a TPC-H aggregate, a three-way join with top-N, a
# filtered scan, an outer join with a double aggregate, events
# sessionization (windows) and JSON parsing. No deposit code runs
# under any of them.
ANALYTICS_KEYS = [
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q6_forecast_revenue",
    "q13_customer_distribution",
    "e2_sessionization",
    "e9_json_props_stats",
]

# Similarity keys: five read sim-family deposits (IVF, PQ, k-means,
# Matryoshka, IVF-PQ) that the cold pass builds; one scans the
# embeddings directly.
RETRIEVAL_KEYS = [
    "s2_label_centroids",
    "s4_ivf_ann",
    "s8_pq_ann",
    "s9_kmeans_refine",
    "s13_matryoshka_recall",
    "s19_ivfpq_ann",
]

KEY_TIMEOUT_S = 120.0
CHECK_TIMEOUT_S = 120.0
DAG_TIMEOUT_S = 150.0


class Run:
    """State shared by a run's phases and the numbers it reports."""

    def __init__(self, spark, sf_dir: str, seed: int, trace: bool, work):
        self.spark = spark
        self.sf_dir = sf_dir
        self.seed = seed
        self.trace = trace
        self.work = work
        self.watchdog = harness.Watchdog(spark, KEY_TIMEOUT_S)
        self.java_pid = 0
        self.rss_mb = 0.0
        self.attempted = 0
        self.failed = 0
        self.mismatches: list[str] = []
        self.errors: list[str] = []
        self.metrics: dict[str, tuple[float, str]] = {}
        self.detail: dict[str, Any] = {}
        # traced sections whose Spark jobs the event log attributes:
        # (job group, wall-clock start, wall-clock end)
        self.traced_windows: list[tuple[str, float, float]] = []
        self.traced_units = 1

    def attempt(self, what: str, fn, timeout_s: float | None = None):
        """Run ``fn`` under the watchdog, counting the attempt and any
        failure; returns (ok, result)."""
        self.attempted += 1
        try:
            return True, self.watchdog.run(fn, timeout_s)
        except (Exception, Timeout) as exc:  # noqa: BLE001 — counted, the run goes on
            self.fail(what, exc)
            return False, None

    def fail(self, what: str, exc: BaseException | str) -> None:
        self.failed += 1
        msg = exc if isinstance(exc, str) else f"{type(exc).__name__}: {str(exc)[:300]}"
        self.errors.append(f"{what}: {msg}")

    def put(self, name: str, value: float, unit: str) -> None:
        self.metrics[name] = (float(value), unit)


def _noop_write(df) -> None:
    df.write.mode("overwrite").format("noop").save()


def _put_latencies(run: Run, lats: list[float]) -> None:
    run.put("op_p50_s", harness.median(lats), "s")
    value, pct, n = harness.tail(lats)
    if value < harness.median(lats):
        value, pct = harness.median(lats), 50.0
    run.put("op_tail_s", value, "s")
    run.detail.update({"op_tail_percentile": pct, "op_samples": n})


# ---- keyed workloads -------------------------------------------------------


def _key_op(run: Run, fn, key: str, group: str, traced: bool):
    spark, sf = run.spark, run.sf_dir
    sc = spark.sparkContext

    def op() -> dict[str, Any]:
        sc.setJobGroup(group, group)
        t0 = time.perf_counter()
        if not traced:
            _noop_write(fn(spark, sf))
            return {"lat": time.perf_counter() - t0}
        w0 = time.time()
        with sp.TRACER.span("key", key=key):
            with sp.TRACER.span("queries"):
                df = fn(spark, sf)
            with sp.TRACER.span("catalyst") as phases:
                df._jdf.queryExecution().executedPlan()
            with sp.TRACER.span("spark"):
                _noop_write(df)
        lat = time.perf_counter() - t0
        run.traced_windows.append((group, w0, time.time()))
        with sp.TRACER.span("trace.bookkeeping"):
            phases.update(sp.catalyst_phases(df))
            jobs, stages = sp.job_stats(sc, group)
        return {"lat": lat, "jobs": jobs, "stages": stages}

    return op


def _pass(run: Run, qs, order: list[str], label: str, traced: bool) -> dict[str, Any]:
    sp.TRACER.enabled = traced
    first = len(sp.TRACER.spans)
    t0 = time.perf_counter()
    recs = []
    for key in order:
        ok, rec = run.attempt(f"{key}#{label}", _key_op(run, qs[key], key, f"{key}#{label}", traced))
        if ok:
            rec["key"] = key
            recs.append(rec)
    wall = time.perf_counter() - t0
    sp.TRACER.enabled = False
    return {"wall": wall, "recs": recs, "traced": traced,
            "spans": sp.TRACER.spans[first:]}


def keyed(run: Run, keys: list[str], seconds: float) -> None:
    from __spark_entry__ import queries

    qs = queries()
    rng = random.Random(run.seed)

    def order() -> list[str]:
        ks = list(keys)
        rng.shuffle(ks)
        return ks

    cold = _pass(run, qs, order(), "cold", run.trace)
    run.put("cold_s", cold["wall"], "s")
    run.traced_windows.clear()  # Spark layer numbers cover the steady passes
    # untimed: the oracle check, then one more pass, carry the JVM past
    # its steepest warm-up before the steady passes are timed
    _check_keys(run, qs, keys)
    harness.reset_python_peak_rss()  # drop the oracle's DuckDB peak
    _pass(run, qs, order(), "warm", False)
    passes: list[dict[str, Any]] = []
    t0 = time.perf_counter()
    while time.perf_counter() - t0 < seconds or len(passes) < 2:
        # a traced run alternates plain and traced passes: the
        # difference of their medians is the tracing overhead
        traced = run.trace and len(passes) % 2 == 1
        passes.append(_pass(run, qs, order(), f"p{len(passes)}", traced))
    run.rss_mb = harness.peak_rss_mb(run.java_pid)

    plain = [p for p in passes if not p["traced"]]
    run.put("pass_s", harness.median([p["wall"] for p in plain]), "s")
    lats = [r["lat"] for p in plain for r in p["recs"]]
    if lats:
        _put_latencies(run, lats)
    per_key: dict[str, list[float]] = {k: [] for k in keys}
    for p in plain:
        for r in p["recs"]:
            per_key[r["key"]].append(r["lat"])
    run.detail.update({
        "keys": keys,
        "passes": [p["wall"] for p in plain],
        "key_latencies_s": per_key,
    })
    if run.trace:
        _keyed_layers(run, cold, [p for p in passes if p["traced"]], plain)


def _check_keys(run: Run, qs, keys: list[str]) -> None:
    """Each key once against its DuckDB twin, untimed."""
    from __spark_entry__ import oracle_sql
    from yuki_spark.compare import compare

    oracle = oracle_sql()
    for key in keys:
        ok, problems = run.attempt(
            f"check {key}",
            lambda k=key: compare(run.spark, qs[k], oracle[k], run.sf_dir),
            CHECK_TIMEOUT_S,
        )
        if not ok:
            run.mismatches.append(key)
        elif problems:
            run.mismatches.append(key)
            run.fail(f"check {key}", "; ".join(problems[:2]))


def _keyed_layers(run: Run, cold, traced, plain) -> None:
    n = len(traced)
    run.traced_units = n
    layers = layer_numbers([s for p in traced for s in p["spans"]], n)
    for name, (value, unit) in layers.items():
        run.put(name, value, unit)
    cold_layers = layer_numbers(cold["spans"], 1)
    run.put("artifact_store.cold_built", cold_layers["artifact_store.built"][0], "count")
    run.put("artifact_store.cold_build_s", cold_layers["artifact_store.build_s"][0], "s")

    recs = [r for p in traced for r in p["recs"]]
    run.put("spark.jobs", sum(r["jobs"] for r in recs) / n, "count")
    run.put("spark.stages", sum(r["stages"] for r in recs) / n, "count")
    # no Pipeline runs on a keyed workload: its counts and times are zero
    for name in PIPELINE_METRICS:
        run.put(name, 0.0, "s" if name.endswith("_s") else ("ratio" if "per" in name else "count"))

    overhead = harness.median([p["wall"] for p in traced]) - harness.median([p["wall"] for p in plain])
    _put_accounting(run, sum(p["wall"] for p in traced) / n, overhead, layers)


def _put_accounting(run: Run, wall: float, overhead: float, layers) -> None:
    """Tracing overhead, and whether the layers' self times account for
    the traced wall time to within it: the time no layer span covers
    (the umbrella spans' self time, plus the gaps between them) must not
    exceed the overhead."""
    unattributed = wall - layers["trace.layer_self_s"][0] - layers["trace.bookkeeping_s"][0]
    run.put("trace.overhead_s", overhead, "s")
    run.put("trace.unattributed_s", unattributed, "s")
    run.put("trace.accounted", float(abs(unattributed) <= abs(overhead)), "bool")


# spans that only group a unit of work (a key, a DAG run); their self
# time is what no layer span covers
UMBRELLAS = ("key", "pipeline")


def layer_numbers(spans: list[dict[str, Any]], n: int) -> dict[str, tuple[float, str]]:
    """Per-unit (pass or cycle) layer numbers from finished spans."""
    spans = [s for s in spans if s["end"] is not None]
    selfs = sp.self_times(spans)
    by_id = {s["id"]: s for s in sp.TRACER.spans}
    by_name: dict[str, list[dict[str, Any]]] = {}
    for s in spans:
        by_name.setdefault(s["name"], []).append(s)

    def dur(ss) -> float:
        return sum(s["end"] - s["start"] for s in ss)

    def outermost(ss) -> list[dict[str, Any]]:
        """Spans with no ancestor of their own name."""
        out = []
        for s in ss:
            p = s["parent"]
            while p is not None and by_id[p]["name"] != s["name"]:
                p = by_id[p]["parent"]
            if p is None:
                out.append(s)
        return out

    deps = by_name.get("artifact_store", [])
    built = [s for s in deps if s["attrs"].get("built")]
    reused = [s for s in deps if not s["attrs"].get("built")]
    writes = by_name.get("impressions.write", [])
    cats = by_name.get("catalyst", [])
    out = {
        "catalog.load_calls": (len(by_name.get("catalog", [])) / n, "count"),
        "catalog.load_s": (dur(by_name.get("catalog", [])) / n, "s"),
        "queries.build_s": (selfs.get("queries", 0.0) / n, "s"),
        "catalyst.plan_s": (dur(cats) / n, "s"),
        "spark.exec_s": (dur(outermost(by_name.get("spark", []))) / n, "s"),
        "artifact_store.calls": (len(deps) / n, "count"),
        "artifact_store.built": (len(built) / n, "count"),
        "artifact_store.reused": (len(reused) / n, "count"),
        "artifact_store.reuse_ratio": (len(reused) / len(deps) if deps else 0.0, "ratio"),
        "artifact_store.build_s": (dur(built) / n, "s"),
        "artifact_store.reuse_s": (dur(reused) / n, "s"),
        "impressions.write_s": (dur(writes) / n, "s"),
        "impressions.bytes_written": (sum(s["attrs"].get("bytes", 0) for s in writes) / n, "bytes"),
        "impressions.files_written": (sum(s["attrs"].get("files", 0) for s in writes) / n, "count"),
        "impressions.read_s": (dur(by_name.get("impressions.read", [])) / n, "s"),
        "impressions.exists_calls": (len(by_name.get("impressions.exists", [])) / n, "count"),
        "trace.layer_self_s": (
            sum(v for k, v in selfs.items() if k not in (*UMBRELLAS, "trace.bookkeeping")) / n, "s"
        ),
        "trace.bookkeeping_s": (selfs.get("trace.bookkeeping", 0.0) / n, "s"),
    }
    for ph in ("analysis", "optimization", "planning"):
        out[f"catalyst.{ph}_s"] = (sum(s["attrs"].get(ph, 0.0) for s in cats) / n, "s")
    return out


def spark_layers(run: Run, event_dir: str) -> None:
    """Spark execution metrics of the traced sections, from the event
    log: jobs in a traced job group, plus group-less jobs (submitted
    from a program-side thread pool) submitted inside a traced
    section's time window."""
    groups = {g for g, _, _ in run.traced_windows}
    windows = [(a * 1000, b * 1000) for _, a, b in run.traced_windows]
    totals: dict[str, float] = {}
    for rec in sp.stage_records(event_dir):
        if rec["group"] in groups or (
            not rec["group"] and any(a <= rec["submit_ms"] <= b for a, b in windows)
        ):
            for k, v in rec["metrics"].items():
                totals[k] = totals.get(k, 0.0) + v
    n = run.traced_units
    for k in sp.STAGE_METRICS:
        unit = "s" if k.endswith("_s") else ("count" if k == "tasks" else "bytes")
        run.put(f"spark.{k}", totals.get(k, 0.0) / n, unit)


# ---- curation_dag ------------------------------------------------------------

_BUMP = "deduped"
_PHASES = ("cold", "rerun", "partial_rerun")
PIPELINE_METRICS = (
    *(f"pipeline.tasks_{k}.{ph}" for k in ("built", "reused") for ph in _PHASES),
    "pipeline.task_s",
    "pipeline.store_bytes_per_input_byte",
)


def curation(run: Run, seconds: float) -> None:
    from yuki_spark.pipeline.backends import LocalBackend
    from yuki_spark.pipeline.impressions import ImpressionStore
    from yuki_spark.pipeline.status import StatusStore
    from yuki_spark.queries.curation import build_pipeline

    stores = run.work.stores(1)
    store = ImpressionStore(os.path.join(stores, "impressions"))
    journal = StatusStore(os.path.join(stores, "journal.jsonl"))
    sc = run.spark.sparkContext
    phases: list[dict[str, Any]] = []
    jobs = [0, 0]
    sp.TRACER.enabled = run.trace

    def dag_run(phase: str, bump: int) -> None:
        pipe = build_pipeline(run.spark, run.sf_dir)
        if bump:
            pipe.tasks[_BUMP].version += f"+bump{bump}"
        if run.trace:
            for t in pipe.tasks.values():
                t.fn = sp.traced_task(t.fn)
        backend = LocalBackend(
            store, persist={n for n, t in pipe.tasks.items() if t.deps}, status_store=journal
        )
        group = f"curation#{phase}#{bump}"

        def op():
            sc.setJobGroup(group, group)
            return backend.run(run.spark, pipe)

        w0, t0 = time.time(), time.perf_counter()
        with sp.TRACER.span("pipeline", phase=phase):
            ok, out = run.attempt(phase, op, DAG_TIMEOUT_S)
        wall = time.perf_counter() - t0
        if run.trace:
            run.traced_windows.append((group, w0, time.time()))
            jobs[0:2] = [a + b for a, b in zip(jobs, sp.job_stats(sc, group))]
        if not ok:
            return
        bad = {n: s for n, s in out["statuses"].items() if s in ("failed", "upstream_failed")}
        if bad:
            run.fail(phase, f"tasks failed: {bad}")
            return
        phases.append({"phase": phase, "wall": wall, "statuses": out["statuses"],
                       "report": out["results"]["curation_report"]})

    first_span = len(sp.TRACER.spans)
    dag_run("cold", 0)
    cold_spans = sp.TRACER.spans[first_span:]
    input_bytes = os.path.getsize(os.path.join(run.sf_dir, "documents.parquet"))
    store_bytes = sp.dir_bytes(stores)[0]
    bump = 0
    t0 = time.perf_counter()
    while not run.failed:
        dag_run("rerun", bump)
        bump += 1
        dag_run("partial_rerun", bump)
        # a traced run reports per-layer numbers for exactly one cycle
        if run.trace or time.perf_counter() - t0 >= seconds:
            break
    sp.TRACER.enabled = False
    run.rss_mb = harness.peak_rss_mb(run.java_pid)

    walls = {ph: [p["wall"] for p in phases if p["phase"] == ph] for ph in _PHASES}
    if walls["cold"]:
        run.put("cold_s", walls["cold"][0], "s")
    pairs = [a + b for a, b in zip(walls["rerun"], walls["partial_rerun"])]
    if pairs:
        run.put("pass_s", harness.median(pairs), "s")
    built = _task_latencies(journal, "finished")
    if built:
        _put_latencies(run, built)
    run.detail.update({
        "phases": [{"phase": p["phase"], "wall": p["wall"]} for p in phases],
        "rerun_s": walls["rerun"],
        "partial_rerun_s": walls["partial_rerun"],
        "store_bytes_per_input_byte": store_bytes / input_bytes,
    })

    # check: every phase's report holds the same rows as the cold run's
    reports = []
    for p in phases:
        ok, rows = run.attempt(
            f"check {p['phase']}", lambda d=p["report"]: sorted(map(repr, d.collect())),
            CHECK_TIMEOUT_S,
        )
        if ok:
            reports.append((p["phase"], rows))
    if not reports or reports[0][0] != "cold" or not reports[0][1]:
        run.mismatches.append("cold")
        run.fail("check cold", "no cold-run report")
    for phase, rows in reports[1:]:
        if rows != reports[0][1]:
            run.mismatches.append(phase)
            run.fail(f"check {phase}", "report differs from the cold run's")

    if run.trace:
        _curation_layers(run, phases, cold_spans, journal, store_bytes / input_bytes)
        run.put("spark.jobs", jobs[0], "count")
        run.put("spark.stages", jobs[1], "count")


def _task_latencies(journal, status: str) -> list[float]:
    """Seconds from ``running`` to ``status`` per task execution, from
    the StatusStore journal."""
    started: dict[str, float] = {}
    out: list[float] = []
    for rec in journal.history():
        if rec["status"] == "running":
            started[rec["task"]] = rec["ts"]
        elif rec["status"] == status and rec["task"] in started:
            out.append(rec["ts"] - started.pop(rec["task"]))
    return out


def _curation_layers(run: Run, phases, cold_spans, journal, store_ratio: float) -> None:
    all_spans = list(sp.TRACER.spans)
    layers = layer_numbers(all_spans, 1)
    for name, (value, unit) in layers.items():
        run.put(name, value, unit)
    cold_layers = layer_numbers(cold_spans, 1)
    run.put("artifact_store.cold_built", cold_layers["artifact_store.built"][0], "count")
    run.put("artifact_store.cold_build_s", cold_layers["artifact_store.build_s"][0], "s")
    for ph in _PHASES:
        st = next((p["statuses"] for p in phases if p["phase"] == ph), {})
        run.put(f"pipeline.tasks_built.{ph}", sum(v == "finished" for v in st.values()), "count")
        run.put(f"pipeline.tasks_reused.{ph}", sum(v == "reused" for v in st.values()), "count")
    run.put(
        "pipeline.task_s",
        sum(_task_latencies(journal, "finished")) + sum(_task_latencies(journal, "reused")),
        "s",
    )
    run.put("pipeline.store_bytes_per_input_byte", store_ratio, "ratio")
    # a cold DAG run cannot be repeated untraced on the same stores, so
    # the overhead is what only a traced run does: the calibrated cost
    # of one span times the spans recorded, the bookkeeping spans, and
    # the extra planning of each written DataFrame (the catalyst spans)
    overhead = (
        len(all_spans) * sp.span_cost_s()
        + layers["trace.bookkeeping_s"][0]
        + layers["catalyst.plan_s"][0]
    )
    wall = sum(p["wall"] for p in phases)
    _put_accounting(run, wall, overhead, layers)


WORKLOADS = {
    "analytics": lambda run, seconds: keyed(run, ANALYTICS_KEYS, seconds),
    "retrieval": lambda run, seconds: keyed(run, RETRIEVAL_KEYS, seconds),
    "curation_dag": curation,
}
