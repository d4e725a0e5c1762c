"""The correctness gate's key order, derived from committed evidence.

``queries()`` orders its keys by their latest passing gate round
(``CORRECTNESS_r<N>.json`` beside ``__spark_entry__.py``), stalest
first, so the gate's 50-key sweep always re-validates the oldest
evidence. These pins need no Spark job."""
from __future__ import annotations

import glob
import importlib.util
import json
import os
import re
import shutil

import pytest

import __spark_entry__ as entrymod
from yuki_spark.queries import curation, docs, events, sim, tpch

ROOT = os.path.dirname(os.path.abspath(entrymod.__file__))
FAMILIES = (tpch, events, docs, sim, curation)  # the merge order


def _rounds() -> dict[int, dict]:
    out = {}
    for path in glob.glob(os.path.join(ROOT, "CORRECTNESS_r*.json")):
        rnd = int(re.search(r"CORRECTNESS_r(\d+)\.json$", path).group(1))
        with open(path) as fh:
            out[rnd] = json.load(fh)
    return out


def _latest() -> dict[str, int]:
    latest: dict[str, int] = {}
    for rnd, rows in _rounds().items():
        for key, row in rows.items():
            if row["hash_match"] is True:
                latest[key] = max(latest.get(key, 0), rnd)
    return latest


def _entry_copy(tmp_path):
    """``__spark_entry__`` imported from a copy in ``tmp_path``, so the
    test controls which evidence files sit beside it."""
    shutil.copy(os.path.join(ROOT, "__spark_entry__.py"), tmp_path)
    spec = importlib.util.spec_from_file_location(
        "entry_copy", tmp_path / "__spark_entry__.py"
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_queries_are_exactly_the_family_keys():
    union = set().union(*(fam.QUERIES for fam in FAMILIES))
    assert set(entrymod.queries()) == union


def test_gate_order_is_stalest_evidence_first():
    latest = _latest()
    stamps = [latest.get(k, 0) for k in entrymod.queries()]
    assert stamps == sorted(stamps)


def test_gate_head_skips_the_newest_round():
    rounds = _rounds()
    newest = set(rounds[max(rounds)])
    assert newest.isdisjoint(list(entrymod.queries())[:50])


def test_no_evidence_means_merge_order(tmp_path):
    merged = [k for fam in FAMILIES for k in fam.QUERIES]
    assert list(_entry_copy(tmp_path).queries()) == merged


def test_ties_keep_merge_order(tmp_path):
    merged = [k for fam in FAMILIES for k in fam.QUERIES]
    fresh, stale = merged[0], merged[-1]
    (tmp_path / "CORRECTNESS_r2.json").write_text(
        json.dumps({fresh: {"hash_match": True}, stale: {"hash_match": False}})
    )
    order = list(_entry_copy(tmp_path).queries())
    assert order == merged[1:] + [fresh]


def test_malformed_evidence_raises(tmp_path):
    (tmp_path / "CORRECTNESS_r3.json").write_text(
        json.dumps({"q1_pricing_summary": {"rows_match": True}})
    )
    with pytest.raises(ValueError, match="CORRECTNESS_r3.json"):
        _entry_copy(tmp_path).queries()
