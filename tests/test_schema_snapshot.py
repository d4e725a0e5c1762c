"""Output-schema stability gate for the driver contract.

The driver's correctness hash covers each key's SCHEMA as well as its
values, but it samples only 50 keys per round — a schema change on an
unswept key (a renamed alias, a silent type widening) would pass CI
here and fail the driver gate one or two rounds later, against stale
code. This gate pins every key's (column, dtype) list against a
committed snapshot at COMPILE time (no execution — plan analysis
only), so drift is caught in the round that introduces it.

Intentional schema changes update the snapshot: run the generator at
the bottom of this file and commit the diff alongside the change.
"""
from __future__ import annotations

import json
import os

import pytest

import __spark_entry__ as entrymod

_SNAP_PATH = os.path.join(os.path.dirname(__file__), "schema_snapshot.json")
with open(_SNAP_PATH) as _fh:
    SNAPSHOT = json.load(_fh)

QUERIES = entrymod.queries()


def test_snapshot_covers_exactly_the_query_surface():
    """One snapshot row per queries() key — a new key must ship its
    schema pin in the same commit, and a deleted key must drop it."""
    assert set(SNAPSHOT) == set(QUERIES)


def test_every_key_has_an_oracle():
    """Entry-contract invariant: every key is oracle-gated."""
    oracles = entrymod.oracle_sql()
    assert set(QUERIES) <= set(oracles)


@pytest.mark.parametrize("name", sorted(QUERIES))
def test_output_schema_matches_snapshot(spark, name):
    df = QUERIES[name](spark, "/root/testdata/sf0.001")
    got = [[c, t] for c, t in df.dtypes]
    assert got == SNAPSHOT[name], (
        f"{name} output schema drifted; if intentional, regenerate "
        "tests/schema_snapshot.json (see module docstring)"
    )


# Snapshot generator (run manually):
#   python - <<'PY'
#   import json
#   from yuki_spark.session import get_spark
#   import __spark_entry__ as e
#   spark = get_spark()
#   snap = {n: [[c, t] for c, t in f(spark, "/root/testdata/sf0.001").dtypes]
#           for n, f in sorted(e.queries().items())}
#   with open("tests/schema_snapshot.json", "w") as fh:
#       json.dump(snap, fh, indent=1, sort_keys=True); fh.write("\n")
#   PY
