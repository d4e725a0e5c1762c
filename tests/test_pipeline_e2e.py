"""Flagship end-to-end: the full Yuki-shaped workflow on Spark — a
DAG of data transformations over versioned inputs, executed with
impression persistence, status journaling, and reuse on re-run.

Pipeline: stage documents → exact-dedup survivors → quality filter →
per-source stats, with the stats snapshot deposited as an impression.
"""
from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql.window import Window

from tests.conftest import SF_SMOKE
from yuki_spark.operators import text
from yuki_spark.pipeline.backends import LocalBackend
from yuki_spark.pipeline.dag import Pipeline
from yuki_spark.pipeline.impressions import ImpressionStore
from yuki_spark.pipeline.status import StatusStore


def build(sf_dir: str) -> Pipeline:
    p = Pipeline("corpus_curation")
    p.source("documents", lambda s, _: s.read.parquet(f"{sf_dir}/documents.parquet"))
    p.add(
        "deduped",
        lambda s, d: (
            text.fingerprint(d["documents"])
            .withColumn(
                "rk",
                F.row_number().over(Window.partitionBy("fp").orderBy("doc_id")),
            )
            .where(F.col("rk") == 1)
            .drop("rk", "fp")
        ),
        deps=("documents",),
    )
    p.add(
        "quality_filtered",
        lambda s, d: text.quality_features(d["deduped"]).where(F.col("quality") > 0.3),
        deps=("deduped",),
    )
    p.add(
        "source_stats",
        lambda s, d: (
            d["quality_filtered"]
            .groupBy("source")
            .agg(
                F.count(F.lit(1)).alias("n_docs"),
                F.avg("quality").alias("avg_quality"),
                F.sum("n_tokens").alias("total_tokens"),
            )
        ),
        deps=("quality_filtered",),
    )
    return p


def test_corpus_curation_end_to_end(spark, tmp_path):
    store = ImpressionStore(str(tmp_path / "imps"))
    status = StatusStore(str(tmp_path / "status.jsonl"))

    p1 = build(SF_SMOKE)
    out1 = LocalBackend(store, persist={"source_stats"}, status_store=status).run(spark, p1)
    assert out1["statuses"]["source_stats"] == "finished"
    stats1 = {r["source"]: r["n_docs"] for r in out1["results"]["source_stats"].collect()}
    assert stats1 and sum(stats1.values()) > 0

    # deposited impression is readable standalone (the "collect" path)
    imp = out1["impressions"]["source_stats"]
    assert store.exists(imp)
    assert store.read(spark, imp).count() == len(stats1)

    # re-run: unchanged DAG reuses the deposited snapshot, no recompute
    p2 = build(SF_SMOKE)
    out2 = LocalBackend(store, persist={"source_stats"}, status_store=status).run(spark, p2)
    assert out2["statuses"]["source_stats"] == "reused"
    stats2 = {r["source"]: r["n_docs"] for r in out2["results"]["source_stats"].collect()}
    assert stats2 == stats1

    # version bump on an upstream task invalidates the whole chain
    p3 = build(SF_SMOKE)
    p3.tasks["quality_filtered"].version = "2"
    out3 = LocalBackend(store, persist={"source_stats"}, status_store=status).run(spark, p3)
    assert out3["statuses"]["source_stats"] == "finished"  # recomputed

    # the journal shows the full audited history across all three runs
    hist = status.history("corpus_curation")
    assert [r["status"] for r in hist if r["task"] == "source_stats"] == [
        "running", "finished", "running", "reused", "running", "finished",
    ]


def test_real_curation_chain_composed_run(spark, tmp_path, monkeypatch):
    """The r13 verdict's flagship item: the REAL curation chain
    (d51 extract → d5 lang-id → d23 Gopher → d3/d11/d20 near-dup drop
    → d47 decontaminate → d21 split → d18 pack → d57/d58 learned
    budget) composed as ONE Pipeline DAG run. Pins: (1) the composed
    run's deposited report equals the direct function-composition of
    the same stage operators, row for row; (2) a re-run of the
    unchanged DAG reuses the deposit (status ``reused``) and returns
    identical rows; (3) the queries() surface (pl1) reads the same
    deposit."""
    from yuki_spark.pipeline.backends import LocalBackend
    from yuki_spark.pipeline.impressions import ImpressionStore
    from yuki_spark.queries import curation as C

    monkeypatch.setenv("YUKI_SPARK_PIPE_STORE", str(tmp_path / "pipestore"))
    store = ImpressionStore(str(tmp_path / "pipestore"))

    pipe = C.build_pipeline(spark, SF_SMOKE)
    out = LocalBackend(store, persist={"curation_report"}).run(spark, pipe)
    assert out["statuses"]["curation_report"] == "finished"
    got = [
        tuple(r)
        for r in out["results"]["curation_report"].orderBy("lang").collect()
    ]
    assert got and got[0][1] > 0  # a non-degenerate funnel

    fr = C.curated_frames(spark, SF_SMOKE)
    want = [
        tuple(r)
        for r in C.curation_report(
            fr["lang_kept"],
            fr["gopher_kept"],
            fr["decontaminated"],
            fr["train_split"],
        ).collect()
    ]
    assert got == want  # composed == direct, bit for bit

    pipe2 = C.build_pipeline(spark, SF_SMOKE)
    out2 = LocalBackend(store, persist={"curation_report"}).run(spark, pipe2)
    assert out2["statuses"]["curation_report"] == "reused"
    # the steady-state fast path's address computation must never
    # drift from the backend's: pl1 probes this address INSTEAD of
    # compiling the upstream stages on the reused path
    assert pipe2.impression_ids() == out2["impressions"]
    assert [
        tuple(r)
        for r in out2["results"]["curation_report"].orderBy("lang").collect()
    ] == got

    assert [
        tuple(r) for r in C.pl1_curation_pipeline(spark, SF_SMOKE).collect()
    ] == got


def test_per_task_log_collection(spark, tmp_path):
    """Every run deposits a logs.json artifact at each task's content
    address — explain string + observed metrics for executed tasks,
    the error for failed ones (parity: impression_storage.collect_logs)."""
    store = ImpressionStore(str(tmp_path / "imps"))

    p = build(SF_SMOKE)
    out = LocalBackend(store, persist={"source_stats"}, observe=True).run(spark, p)

    logs = store.logs(out["impressions"]["source_stats"])
    assert logs["status"] == "finished"
    assert "Physical Plan" in logs["explain"]
    assert logs["metrics"]["n_rows"] > 0
    assert logs["error"] is None
    # compiled upstream tasks get artifacts too (metrics resolved off
    # the sink's single action)
    dlogs = store.logs(out["impressions"]["deduped"])
    assert dlogs["status"] == "compiled"
    assert dlogs["metrics"]["n_rows"] > 0

    # failed task: logs.json records the error at the task's address
    # even though no data was deposited there
    pf = build(SF_SMOKE)
    pf.add("boom", lambda s, d: d["source_stats"].select("no_such_col"), deps=("source_stats",))
    outf = LocalBackend(store, persist={"source_stats"}).run(spark, pf)
    flogs = store.logs(outf["impressions"]["boom"])
    assert flogs["status"] == "failed"
    assert "no_such_col" in flogs["error"]
    assert not store.exists(outf["impressions"]["boom"])  # logs-only dir
