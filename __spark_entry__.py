"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` — flagship query (pricing summary) at sf0.001.
``queries()`` — every implemented operator from SURVEY.md §2.
``oracle_sql()`` — DuckDB twins for the driver's correctness gate.
"""

from __future__ import annotations

import json
import os
import re
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from yuki_spark.queries import curation, docs, events, sim, tpch


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    return tpch.q1_pricing_summary(spark, "/root/testdata/sf0.001")


_EVIDENCE = re.compile(r"CORRECTNESS_r(\d+)\.json")


def _latest_pass() -> dict[str, int]:
    """Each key's latest passing gate round: the highest N for which
    ``CORRECTNESS_r<N>.json`` beside this file has ``hash_match: true``.
    A malformed evidence file raises — skipping it would silently
    reorder the sweep."""
    here = os.path.dirname(os.path.abspath(__file__))
    latest: dict[str, int] = {}
    for fname in os.listdir(here):
        m = _EVIDENCE.fullmatch(fname)
        if m is None:
            continue
        with open(os.path.join(here, fname)) as fh:
            rows = json.load(fh)
        if not isinstance(rows, dict) or not all(
            isinstance(r, dict) and "hash_match" in r for r in rows.values()
        ):
            raise ValueError(f"{fname}: expected {{key: {{hash_match: ...}}}}")
        rnd = int(m.group(1))
        for key, row in rows.items():
            if row["hash_match"] is True:
                latest[key] = max(latest.get(key, 0), rnd)
    return latest


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    merged: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
    merged.update(tpch.QUERIES)
    merged.update(events.QUERIES)
    merged.update(docs.QUERIES)
    merged.update(sim.QUERIES)
    merged.update(curation.QUERIES)
    # Insertion order is gate order (the correctness gate caps its
    # sweep at 50 rows): stalest evidence first, never-validated keys
    # at the head; the stable sort keeps the merge order among equal
    # rounds.
    latest = _latest_pass()
    return {k: merged[k] for k in sorted(merged, key=lambda k: latest.get(k, 0))}


def oracle_sql() -> dict[str, str]:
    out: dict[str, str] = {}
    # docs'/sim's adaptive twins derive their parameters (pairwise
    # doc cap, LSH planes/bits) from the gate catalog: build them at
    # call time so YUKI_SPARK_TEST_SF is honored now, not at whatever
    # moment the module was first imported
    out.update(docs.build_oracle())
    out.update(sim.build_oracle())
    out.update(curation.build_oracle())
    out.update(events.ORACLE)
    out.update(tpch.ORACLE)
    return out
