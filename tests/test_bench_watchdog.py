"""The bench harness's py4j-hang watchdog (SURVEY §7.17): a key that
never returns must record a ``timed_out`` sentinel and leave a COMPLETE
bench_results.json — before r10 the only guard was an external timeout
around the whole process, which cost the driver its entire perf
artifact when one key froze."""
from __future__ import annotations

import json
import time

import pytest

import bench


def test_guarded_returns_elapsed_on_success():
    dt = bench._guarded(lambda: time.sleep(0.05), 5.0)
    assert dt is not None and dt >= 0.05


def test_guarded_none_on_timeout():
    assert bench._guarded(lambda: time.sleep(5.0), 0.3) is None


def test_guarded_reraises_fn_errors():
    with pytest.raises(ValueError, match="boom"):
        bench._guarded(lambda: (_ for _ in ()).throw(ValueError("boom")), 5.0)


def test_forced_hang_yields_sentinel_and_complete_artifact(
    spark, tmp_path, monkeypatch, capsys
):
    """End-to-end: a query whose execution sleeps past the per-key
    timeout gets a sentinel row; the other keys are timed normally and
    the artifact + stdout line stay well-formed."""
    from pyspark.sql import functions as F
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("long")
    def _sleepy(s):
        time.sleep(30)
        return s

    def hang_query(spark, sf_dir):
        return spark.range(1).select(_sleepy(F.col("id")).alias("id"))

    def fast_query(spark, sf_dir):
        return spark.range(8).selectExpr("sum(id) AS s")

    monkeypatch.setenv("SPARK_GRAFT_BENCH_RUNS", "2")
    monkeypatch.setenv("SPARK_GRAFT_BENCH_BUDGET_S", "60")
    monkeypatch.setenv("SPARK_GRAFT_BENCH_KEY_TIMEOUT_S", "3")
    out = tmp_path / "bench_results.json"
    report = bench._main_body(
        "/root/testdata/sf0.001",
        0.001,
        qs={"fastq": fast_query, "hangq": hang_query},
        out_path=str(out),
    )

    assert report["timed_out"] == {"hangq": 3.0}
    assert "hangq" not in report["queries"]
    assert "hangq" not in report["medians"]
    # the fast key was sampled on BOTH rounds despite the hang
    assert report["queries"]["fastq"] >= 0
    assert report["value"] == sum(report["queries"].values())

    # the on-disk artifact is complete and carries the sentinel
    disk = json.loads(out.read_text())
    assert disk["timed_out"] == {"hangq": 3.0}
    assert "fastq" in disk["queries"]

    # the stdout contract line parses, carries the sentinel, and stays
    # inside the driver's ~2000-char stdout tail window (the reason
    # the line truncates its queries dict in the first place)
    line = capsys.readouterr().out.strip().splitlines()[-1]
    parsed = json.loads(line)
    assert parsed["timed_out"] == {"hangq": 3.0}
    assert len(line) <= 2000


def test_late_hang_drops_earlier_samples(spark, tmp_path, monkeypatch, capsys):
    """queries/timed_out are DISJOINT (r10 advice): a key that hangs
    AFTER a successful first sample must not keep that sample — a row
    in both sets would read as healthy beside its own sentinel."""
    import time as _time

    from pyspark.sql import functions as F
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("long")
    def _sleepy2(s):
        _time.sleep(30)
        return s

    calls = {"n": 0}

    def flaky_query(spark, sf_dir):
        calls["n"] += 1
        if calls["n"] >= 2:  # first sample fast, second hangs
            return spark.range(1).select(_sleepy2(F.col("id")).alias("id"))
        return spark.range(4).selectExpr("sum(id) AS s")

    monkeypatch.setenv("SPARK_GRAFT_BENCH_RUNS", "2")
    monkeypatch.setenv("SPARK_GRAFT_BENCH_BUDGET_S", "60")
    monkeypatch.setenv("SPARK_GRAFT_BENCH_KEY_TIMEOUT_S", "3")
    out = tmp_path / "bench_results.json"
    report = bench._main_body(
        "/root/testdata/sf0.001",
        0.001,
        qs={"flakyq": flaky_query},
        out_path=str(out),
    )
    capsys.readouterr()
    assert report["timed_out"] == {"flakyq": 3.0}
    assert "flakyq" not in report["queries"]  # earlier sample dropped
    assert "flakyq" not in report["medians"]
    assert set(report["queries"]).isdisjoint(report["timed_out"])


def test_cascade_guard_aborts_tail(spark, tmp_path, monkeypatch, capsys):
    """Consecutive timeouts past the cascade limit abort the remaining
    keys (r10 advice: an orphaned deposit-build thread holding the
    store RLock would otherwise sentinel the whole tail at one
    key_timeout each) — the artifact is partial and SAYS so."""
    import time as _time

    from pyspark.sql import functions as F
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("long")
    def _sleepy3(s):
        _time.sleep(30)
        return s

    def hang_query(spark, sf_dir):
        return spark.range(1).select(_sleepy3(F.col("id")).alias("id"))

    def fast_query(spark, sf_dir):
        return spark.range(8).selectExpr("sum(id) AS s")

    monkeypatch.setenv("SPARK_GRAFT_BENCH_RUNS", "1")
    monkeypatch.setenv("SPARK_GRAFT_BENCH_BUDGET_S", "60")
    monkeypatch.setenv("SPARK_GRAFT_BENCH_KEY_TIMEOUT_S", "2")
    monkeypatch.setenv("SPARK_GRAFT_BENCH_CASCADE_LIMIT", "2")
    out = tmp_path / "bench_results.json"
    report = bench._main_body(
        "/root/testdata/sf0.001",
        0.001,
        qs={
            "hang1": hang_query,
            "hang2": hang_query,
            "nevertimed": fast_query,  # after the abort point: skipped
        },
        out_path=str(out),
    )
    assert report["aborted_after"] == "hang2"
    assert report["timed_out"] == {"hang1": 2.0, "hang2": 2.0}
    # the tail key was neither timed nor sentinel-ed — it was skipped
    assert "nevertimed" not in report["queries"]
    assert "nevertimed" not in report["timed_out"]
    # stdout line carries the abort marker and still parses
    line = capsys.readouterr().out.strip().splitlines()[-1]
    parsed = json.loads(line)
    assert parsed["aborted_after"] == "hang2"


def test_cold_round_detects_deposit_builds(spark, tmp_path, monkeypatch, capsys):
    """Round 0 is the cold phase: only a key whose first run added an
    entry under a family store root lands in cold_build_s, and it gets
    one extra sample so every key still has RUNS steady samples."""
    for fam in ("DEDUP", "SIM", "LM", "PIPE"):
        monkeypatch.setenv(f"YUKI_SPARK_{fam}_STORE", str(tmp_path / fam.lower()))
    dedup_root = tmp_path / "dedup"
    calls = {"depositor": 0, "reader": 0}

    def depositor(spark, sf_dir):
        calls["depositor"] += 1
        (dedup_root / "deposit").mkdir(parents=True, exist_ok=True)

    def reader(spark, sf_dir):
        calls["reader"] += 1

    monkeypatch.setattr(bench, "_run", lambda df: None)  # no Spark job
    monkeypatch.setenv("SPARK_GRAFT_BENCH_RUNS", "2")
    report = bench._main_body(
        str(tmp_path),
        0.001,
        qs={"depositor": depositor, "reader": reader},
        out_path=str(tmp_path / "bench_results.json"),
    )
    capsys.readouterr()
    assert set(report["cold_build_s"]) == {"depositor"}
    assert set(report["queries"]) == set(report["medians"]) == {"depositor", "reader"}
    assert calls == {"depositor": 3, "reader": 2}
