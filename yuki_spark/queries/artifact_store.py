"""Generic content-addressed reuse of query artifacts — the engine
eating its own O5 dogfood (SURVEY §2.1: ImpressionStore,
skip-if-deposited) at the QUERY layer.

Each artifact family is one :class:`Family` record (store root, base
version, covered code modules, build counter):

- :mod:`.dedup_family` — the documents near-dup pipeline (set groups,
  token sets, verified pairs, CC labels) shared by d2/d3/d11/d20/d33;
- :mod:`.sim_family`  — ANN index results (exact/LSH/IVF/PQ top-k,
  the kNN graph) shared by s3/s4/s8/s11 and their evaluation
  harnesses s6/s12;
- :mod:`.lm_family`   — corpus-trained models (trigram/bigram LM
  scores, the quality classifier) behind d52/d54/d56/d59/d60;
- ``docs.BPE``        — the BPE tokenizer artifacts of d44/d46/d57/d58.

Every family deposit goes through :func:`deposit_or_reuse`, which
publishes through :meth:`ImpressionStore.publish` — the same publish
path (per-address build lock, atomic rename into place) Pipeline tasks
use — and only adds the degraded-store fallback and the build counter.

Contract: an artifact's address is a sha over (key, family version,
dep ids) where the dep ids start from a TABLE FINGERPRINT (part-file
relpaths + byte sizes + mtimes + any parameters). A regenerated input
or changed parameter produces a new address and a fresh compute —
never a stale reuse; a changed builder changes the family version
through its code hash (the store's O5 contract). An unwritable store
root degrades to an unpersisted lazy-checkpointed build: correctness
is never hostage to a disk.
"""
from __future__ import annotations

import hashlib
import importlib
import inspect
import json
import os
import stat as stat_mod
import tempfile
from collections.abc import Callable
from dataclasses import dataclass
from typing import Any

from pyspark.sql import DataFrame, SparkSession

from ..catalog import table_path
from ..pipeline.impressions import ImpressionStore, impression_id


def default_store_root(env_var: str, name: str) -> str | None:
    """Default on-disk root for a query-artifact family. An explicit
    ``env_var`` override is honored verbatim (the operator's choice —
    on a cluster this points at a shared filesystem). The fallback
    temp-dir path is uid-suffixed and created mode 0700 so another
    local user can neither pre-create it nor plant deposits at
    predictable content addresses; if the path exists but is not
    exclusively ours, returns None — deposit_or_reuse then runs
    store-less (compute-always), trading reuse for integrity."""
    env = os.environ.get(env_var)
    if env:
        return env
    root = os.path.join(tempfile.gettempdir(), f"{name}-{os.getuid()}")
    try:
        os.makedirs(root, mode=0o700, exist_ok=True)
        # lstat + S_ISDIR: a pre-planted SYMLINK at the predictable
        # path would pass a follow-symlink stat (the target can be a
        # victim-owned 0700 dir) — the link itself must be a real
        # directory we own, not a redirect
        st = os.lstat(root)
        if (
            not stat_mod.S_ISDIR(st.st_mode)
            or st.st_uid != os.getuid()
            or (st.st_mode & 0o077)
        ):
            return None
    except OSError:
        return None
    return root


def code_fingerprint(*modules) -> str:
    """Hash of the given modules' SOURCE — folded into a family's
    version string so ANY edit to the builder code invalidates its
    deposits automatically (the query-layer analogue of the backend's
    ``plan_hash=True``). Without this, an unbumped manual version
    would let the correctness gates silently validate a STALE
    deposit's output after a code change — the exact regression the
    gates exist to catch. At production scale a deployment that wants
    stable reuse across code releases pins an explicit version
    instead; for the gate corpora recompute-on-edit costs seconds."""
    h = hashlib.sha256()
    for m in modules:
        h.update(inspect.getsource(m).encode())
    return h.hexdigest()[:16]


_PROBE_BYTES = 4096


def _tail_probe(full: str, size: int) -> str:
    """Hash of a file's last ``_PROBE_BYTES`` — for a parquet part this
    spans the footer (row counts, column stats, page offsets), so
    regenerated content is caught even when size and mtime collide
    (coarse 1 s mtime filesystems). One seek+read, no data scan."""
    with open(full, "rb") as f:
        if size > _PROBE_BYTES:
            f.seek(-_PROBE_BYTES, os.SEEK_END)
        return hashlib.sha256(f.read(_PROBE_BYTES)).hexdigest()[:16]


def table_fingerprint(sf_dir: str, table: str, extra: Any = None) -> str:
    """Identity of one catalog table (plus caller parameters): part-
    file relpaths, byte sizes, mtimes (ns) AND a footer-tail content
    probe — cheap (no data scan) and strict enough that regenerated
    bytes at the same path get a new address even on filesystems whose
    mtime granularity is too coarse to tell rewrites apart. ``extra``
    folds in whatever parameters shape the artifact (caps, k, probe
    counts)."""
    path = table_path(sf_dir, table)
    ents: list[tuple[str, int, int, str] | tuple[str, str]] = []

    def _ent(full: str, rel: str) -> tuple[str, int, int, str] | tuple[str, str]:
        # stat→open is two syscalls: a part file vanishing in between
        # (concurrent compaction on a live table) must change the
        # fingerprint, not crash every deposit lookup.
        try:
            st = os.stat(full)
            return (rel, st.st_size, st.st_mtime_ns, _tail_probe(full, st.st_size))
        except OSError:
            return ("gone", rel)

    if os.path.isdir(path):
        for dirpath, _dirs, files in sorted(os.walk(path)):
            for fn in sorted(files):
                full = os.path.join(dirpath, fn)
                ents.append(_ent(full, os.path.relpath(full, path)))
    else:
        ents.append(_ent(path, os.path.basename(path)))
    payload = json.dumps(
        {"root": os.path.realpath(path), "files": ents, "extra": extra},
        sort_keys=True,
    )
    return hashlib.sha256(payload.encode()).hexdigest()[:32]


# NOTE — write-time deposit compaction was BUILT AND REVERTED in r15
# after a controlled A/B refuted the r14-verdict hypothesis that the
# fanned builds' multi-part deposits (11 parts where 2 sufficed) tax
# their readers. Cold-JVM min-of-3, 2 reps each, compacted-to-one-file
# vs as-written: d38 3.51 vs 1.03 s, d36 3.56 vs 2.05 s (compaction is
# a 1.7–3.4x steady LOSS), d39/d22 flat, cold builds +4 s for the
# rewrite. Cause: a small deposit compacted to one single-row-group
# file scans as ONE task, serializing every reader's scan-stage
# pipeline, while the multi-part layout gives readers exactly the
# parallelism the scan fan-out exists to create — per-file open cost
# is noise next to that at any size below the 128 MB split grain. At
# 100 TB deposits exceed split grain and readers parallelize either
# way; compact() remains available as explicit maintenance for true
# thousand-file pathologies.


def deposit_or_reuse(
    spark: SparkSession,
    root: str | None,
    key: str,
    version: str,
    dep_ids: list[str],
    builder: Callable[[], DataFrame],
    computes: dict[str, int],
    name: str,
) -> tuple[DataFrame, str]:
    """Deposit-or-reuse one artifact through
    :meth:`ImpressionStore.publish` (per-address build lock, atomic
    rename-into-place publish); returns (DataFrame, address).
    ``computes[name]`` increments exactly when the builder ran — the
    observability hook the reuse tests assert on.

    ANY store failure (unwritable root, disk-full mid-write, a
    concurrent sweep) degrades to the unpersisted lazy plan the
    builder produced — correctness is never hostage to a disk. The
    builder runs at most once per call either way."""
    imp = impression_id(key, version, dep_ids)
    built: list[DataFrame] = []

    def build() -> DataFrame:
        built.append(builder())
        computes[name] = computes.get(name, 0) + 1
        return built[0]

    try:
        store = ImpressionStore(root) if root is not None else None
    except OSError:
        store = None
    if store is None:
        return build().localCheckpoint(eager=False), imp
    try:
        df, _ = store.publish(spark, imp, build, meta={"task": key, "deps": dep_ids})
    except Exception:  # noqa: BLE001 — degrade, never fail the query
        if not built:
            raise  # nothing was built to degrade to: a read or the builder failed
        df = built[0].localCheckpoint(eager=False)
    return df, imp


@dataclass(frozen=True)
class Family:
    """One family of query artifacts: where its deposits live
    (``env_var`` override, else a private temp dir ``dir_name``), the
    version its addresses carry (``version`` plus a code hash of
    ``modules``), and the per-artifact build counter ``computes``.
    Modules are given by name relative to this package and imported
    when an artifact is requested, so a family may cover the module
    that imports it (sim.py, docs.py) without an import cycle."""

    key: str
    env_var: str
    dir_name: str
    version: str
    modules: tuple[str, ...]
    computes: dict[str, int]

    def store_root(self) -> str | None:
        return default_store_root(self.env_var, self.dir_name)

    def deposit(
        self,
        spark: SparkSession,
        name: str,
        dep_ids: list[str],
        builder: Callable[[], DataFrame],
        modules: tuple[str, ...] = (),
    ) -> tuple[DataFrame, str]:
        """Deposit-or-reuse artifact ``name``; its address also covers
        the artifact's own extra ``modules``."""
        mods = [importlib.import_module(m, __package__) for m in self.modules + modules]
        version = self.version + "+" + code_fingerprint(*mods)
        return deposit_or_reuse(
            spark, self.store_root(), f"{self.key}.{name}", version, dep_ids,
            builder, self.computes, name,
        )
