"""Execution backends for Pipeline — Yuki's DryWorkflow/ReanaWorkflow
split re-expressed for Spark.

- ``DryRunBackend`` (parity: /root/reference/Yuki/kernel/dry_workflow.py:15)
  compiles every task's DataFrame and captures the *optimized physical
  plan* without running a job — the Spark-native meaning of a dry run.
- ``LocalBackend`` executes in dependency order. Tasks marked
  ``persist`` materialize through the ImpressionStore; unchanged
  subgraphs are reused (status ``reused``), mirroring Yuki's
  deposited-impression skip (execution.py:44 "status not raw/failed →
  skip").
- Failure semantics (parity: VWorkflow.run error path): a failing task
  is ``failed`` and every transitive dependent becomes
  ``upstream_failed``; ``kill()`` marks the remainder failed, like
  ImpressionStorage.kill.
"""
from __future__ import annotations

from contextlib import contextmanager
from typing import Any

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from .dag import Pipeline
from .impressions import ImpressionStore, impression_id


import threading as _threading

# serialize ALL conf-override windows in this process: two concurrent
# runs (e.g. sibling run_async(isolate_conf=False) dispatches) that
# interleaved save/set/restore on one shared session would otherwise
# restore each other's overrides — B saving A's in-flight value and
# "restoring" it forever. Overrides are short (one task's
# compile+action); the lock's serialization is the correctness cost
# of session-global conf, and isolated sessions never contend.
_CONF_LOCK = _threading.Lock()


@contextmanager
def _task_conf(spark: SparkSession, conf: dict[str, str]):
    """Apply a task's runner context (Spark SQL conf) around its
    compile + action, restoring the previous values afterwards —
    parity with Yuki's per-job environment/runner registration
    (/root/reference/Yuki/kernel/VJob.py:117 ``environment``,
    impression_storage.py:21 ``_get_runner_contexts``). Conf-carrying
    windows are mutually exclusive process-wide (_CONF_LOCK)."""
    if not conf:
        yield
        return
    with _CONF_LOCK:
        saved = {k: spark.conf.get(k, None) for k in conf}
        for k, v in conf.items():
            spark.conf.set(k, v)
        try:
            yield
        finally:
            for k, old in saved.items():
                if old is None:
                    spark.conf.unset(k)
                else:
                    spark.conf.set(k, old)


def _explain(spark: SparkSession, df: DataFrame) -> str:
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    return df._jdf.queryExecution().explainString(mode)


class DryRunBackend:
    """Compile-only: returns {task: explain string}."""

    def run(self, spark: SparkSession, pipe: Pipeline) -> dict[str, str]:
        plans: dict[str, str] = {}
        results: dict[str, DataFrame] = {}
        for name in pipe.topo_order():
            t = pipe.tasks[name]
            t.status = "waiting"
            inputs = {d: results[d] for d in t.deps}
            # compile under the task's runner conf — the dry run's job
            # is to preview the plan the LocalBackend would execute,
            # and conf like autoBroadcastJoinThreshold changes it
            with _task_conf(spark, t.conf):
                df = t.fn(spark, inputs)
                results[name] = df
                plans[name] = _explain(spark, df)
            t.status = "compiled"  # plan built, not executed
        return plans


class LocalBackend:
    """Executes the DAG; optionally persists/reuses impressions."""

    def __init__(
        self,
        store: ImpressionStore | None = None,
        persist: set[str] | None = None,
        status_store=None,
        max_retries: int = 0,
        observe: bool = False,
        metrics: dict[str, list] | None = None,
        eager: bool = False,
        collect_logs: bool = True,
        plan_hash: bool = False,
    ):
        """``observe=True`` attaches a :class:`pyspark.sql.Observation`
        to every executed task: row count plus any extra aggregate
        Columns from ``metrics[task_name]``, collected *during* the
        task's action (Yuki's status routes report per-job progress;
        here Spark itself accumulates the numbers — zero extra jobs).
        Reused impressions skip recompute, so their metrics are None.

        Execution is lazy by default: only tasks in ``persist`` run an
        action; everything else is compiled into its consumers' plans
        (status ``compiled``) and executes exactly once, inside the
        action that finally needs it. ``eager=True`` restores
        count-per-task semantics (per-task failure isolation at the
        price of re-executing a k-deep lineage k times — never use it
        on large inputs)."""
        self.store = store
        self.persist = persist or set()
        self.status_store = status_store
        self.max_retries = max_retries
        self.observe = observe
        self.metrics = metrics or {}
        self.eager = eager
        # parity: impression_storage.collect_logs — deposit each run's
        # explain/metrics/error artifact next to the impression data
        self.collect_logs = collect_logs
        # plan_hash=True folds each task's canonicalized logical plan
        # into its impression address, so a changed fn invalidates the
        # deposit without a version bump (see impression_id docstring)
        self.plan_hash = plan_hash
        import threading
        import weakref

        # kill() is sticky PER PIPELINE (a killed workflow stays
        # killed until rebuilt — Yuki parity), tracked by object
        # identity in a WeakSet so a dead Pipeline never pins memory
        # and an unrelated pipeline is never poisoned
        self._killed_pipes = weakref.WeakSet()

        # run_parallel: serialize journal appends across worker
        # threads (session-conf overrides never run concurrently —
        # run_parallel serializes any level carrying task conf)
        self._journal_lock = threading.Lock()

    def _journal(self, pipe: Pipeline, task: str, status: str, error: str | None = None):
        if self.status_store is not None:
            with self._journal_lock:
                self.status_store.record(pipe.name, task, status, error=error)

    def kill(self, pipe: Pipeline) -> None:
        """Parity: ImpressionStorage.kill — mark unfinished work failed.
        Sticky for THIS pipeline object (a later run of it refuses to
        execute, like a killed Yuki workflow); other pipelines on the
        same backend are unaffected."""
        self._killed_pipes.add(pipe)
        if self.status_store is not None:
            self.status_store.mark_killed(pipe)
        for t in pipe.tasks.values():
            if t.status in ("raw", "waiting", "running"):
                t.status = "failed"

    def run(self, spark: SparkSession, pipe: Pipeline) -> dict[str, Any]:
        order = pipe.topo_order()
        for n in order:
            pipe.tasks[n].status = "waiting"
        results: dict[str, DataFrame] = {}
        imp_ids: dict[str, str] = {}
        pending_obs: dict[str, Any] = {}
        explains: dict[str, str] = {}
        for name in order:
            self._run_one(spark, pipe, name, results, imp_ids, pending_obs, explains)
        return self._finalize(spark, pipe, order, results, imp_ids, pending_obs, explains)

    def run_parallel(
        self, spark: SparkSession, pipe: Pipeline, max_workers: int = 4
    ) -> dict[str, Any]:
        """Level-parallel execution (parity: Yuki's Snakemake backend
        runs independent jobs concurrently; Spark schedules jobs
        submitted from multiple threads across the same executors —
        the standard way to overlap DAG branches whose individual
        jobs underutilize the cluster).

        Tasks within one Kahn level share no dependency, so each level
        runs on a thread pool with a barrier between levels — failure
        fan-out (``upstream_failed``) from level N is visible before
        level N+1 starts, exactly like the sequential backend. A level
        containing any task with runner ``conf`` runs sequentially:
        Spark SQL conf is session-global, so a concurrent override
        would leak into sibling tasks' compiles."""
        from concurrent.futures import ThreadPoolExecutor

        levels = pipe.topo_levels()
        order = [n for lvl in levels for n in lvl]
        for n in order:
            pipe.tasks[n].status = "waiting"
        results: dict[str, DataFrame] = {}
        imp_ids: dict[str, str] = {}
        pending_obs: dict[str, Any] = {}
        explains: dict[str, str] = {}
        with ThreadPoolExecutor(max_workers=max_workers) as ex:
            for lvl in levels:
                if len(lvl) == 1 or any(pipe.tasks[n].conf for n in lvl):
                    for name in lvl:
                        self._run_one(
                            spark, pipe, name, results, imp_ids, pending_obs, explains
                        )
                    continue
                futs = [
                    ex.submit(
                        self._run_one,
                        spark,
                        pipe,
                        name,
                        results,
                        imp_ids,
                        pending_obs,
                        explains,
                    )
                    for name in lvl
                ]
                for f in futs:
                    f.result()  # barrier; surfaces unexpected errors
        return self._finalize(spark, pipe, order, results, imp_ids, pending_obs, explains)

    def run_async(
        self,
        spark: SparkSession,
        pipe: Pipeline,
        max_workers: int = 0,
        isolate_conf: bool = True,
    ) -> "AsyncRun":
        """Dispatch a run in a background thread and return a pollable
        handle (parity: Yuki's Celery ``task_exec_impression`` —
        /root/reference/Yuki/server/tasks.py:30 — dispatches execution
        and clients poll the status routes). ``max_workers > 0`` uses
        :meth:`run_parallel` inside the dispatched thread.

        By default the dispatched run executes under
        ``spark.newSession()`` — same SparkContext, ISOLATED SQL
        conf — so a task's runner-conf override can never leak into
        the caller's session while the caller keeps working (the
        whole point of async dispatch), nor cross-contaminate a
        sibling ``run_async``. The result DataFrames carry the
        isolated session and stay fully usable by the caller.
        Session scope cuts both ways: the fresh session does NOT see
        the caller's TEMP VIEWS, registered UDFs, or runtime-set SQL
        conf. A pipeline whose task fns read temp views (e.g. the
        ``read_many(register=True)`` catalog pattern) must pass
        ``isolate_conf=False`` to run on the caller's session —
        accepting that task conf overrides then briefly apply
        session-wide while each task runs.

        kill() is per-pipeline (sticky): killing one dispatched run
        never aborts a sibling pipeline on the same backend, and a
        kill landing in the dispatch window still takes effect when
        the worker thread reaches the run."""
        import threading

        handle = AsyncRun(pipe, self)
        run_spark = spark.newSession() if isolate_conf else spark

        def _target() -> None:
            try:
                handle._result = (
                    self.run_parallel(run_spark, pipe, max_workers)
                    if max_workers > 0
                    else self.run(run_spark, pipe)
                )
            except BaseException as e:  # noqa: BLE001 — surface via join()
                handle._error = e

        t = threading.Thread(target=_target, name=f"pipeline-{pipe.name}", daemon=True)
        handle._thread = t
        t.start()
        return handle

    def session_for(self, spark: SparkSession) -> SparkSession:
        """The session this backend executes tasks on. The local
        backend runs on the caller's session; RemoteSessionBackend
        overrides this with its own isolated (or remote) session —
        the 'which machine does this job run on' seam."""
        return spark

    def run_task(
        self,
        spark: SparkSession,
        pipe: Pipeline,
        name: str,
        results: dict[str, DataFrame],
        imp_ids: dict[str, str],
        pending_obs: dict[str, Any],
        explains: dict[str, str],
        force_persist: bool = False,
    ) -> None:
        """Execute ONE task of a pipeline on this backend — the unit a
        :class:`~yuki_spark.pipeline.registry.BackendRegistry` routes
        (parity: the reference runs one impression on one machine —
        /root/reference/Yuki/server/routes/execution.py:103).
        ``force_persist=True`` materializes through the store even when
        the task isn't in ``persist`` — a routed run persists every
        runner-boundary task so the next runner reads the deposit
        instead of a foreign session's plan."""
        self._run_one(
            self.session_for(spark),
            pipe,
            name,
            results,
            imp_ids,
            pending_obs,
            explains,
            force_persist=force_persist,
        )

    def _run_one(
        self,
        spark: SparkSession,
        pipe: Pipeline,
        name: str,
        results: dict[str, DataFrame],
        imp_ids: dict[str, str],
        pending_obs: dict[str, Any],
        explains: dict[str, str],
        force_persist: bool = False,
    ) -> None:
        t = pipe.tasks[name]
        killed = pipe in self._killed_pipes
        if t.status == "upstream_failed" or killed:
            if killed and t.status in ("raw", "waiting", "running"):
                # parity: kill marks unfinished work failed — a task
                # skipped because of the kill must not look in-flight
                t.status = "failed"
                self._journal(pipe, name, "failed")
            return
        t.status = "running"
        self._journal(pipe, name, "running")
        dep_ids = [imp_ids.get(d, f"{d}@{pipe.tasks[d].version}") for d in t.deps]
        plan_str = None
        precompiled: DataFrame | None = None
        compile_err: Exception | None = None
        if self.plan_hash:
            # compile ONCE for addressing, under the task's own
            # conf (conf-sensitive plans must hash as they
            # execute); the DataFrame is reused by the first
            # attempt below so fn never runs twice for one
            # attempt, and a compile failure is re-raised inside
            # the attempt loop (full failure handling) without
            # invoking fn again
            try:
                with _task_conf(spark, t.conf):
                    precompiled = t.fn(spark, {d: results[d] for d in t.deps})
                plan_str = (
                    precompiled._jdf.queryExecution().logical().toString()
                )
            except Exception as e:  # noqa: BLE001
                compile_err = e
        imp = impression_id(t.name, t.version, dep_ids, plan=plan_str)
        imp_ids[name] = imp
        t.impression = imp  # purge's keep-set must see the real address
        # an archived deposit is shielded: never reused, never
        # rewritten — the task recompiles for its consumers instead
        persist = (
            self.store is not None
            and (name in self.persist or force_persist)
            and not self.store.is_archived(imp)
        )
        # transient-failure tolerance: a long pipeline shouldn't
        # die to one flaky task attempt (Yuki reruns failed jobs
        # on resubmit; here attempts are in-process)
        for attempt in range(self.max_retries + 1):
            obs = None

            def build() -> DataFrame:
                nonlocal precompiled, obs
                if precompiled is not None:
                    df, precompiled = precompiled, None
                else:
                    df = t.fn(spark, {d: results[d] for d in t.deps})
                if self.store is not None and self.collect_logs:
                    explains[name] = _explain(spark, df)
                if self.observe:
                    obs = Observation(f"{pipe.name}.{name}#{attempt}")
                    df = df.observe(
                        obs,
                        F.count(F.lit(1)).alias("n_rows"),
                        *self.metrics.get(name, []),
                    )
                return df

            try:
                if compile_err is not None:
                    e, compile_err = compile_err, None
                    raise e
                with _task_conf(spark, t.conf):
                    if persist:
                        # a deposited address is read without calling fn
                        df, executed = self.store.publish(
                            spark,
                            imp,
                            build,
                            meta={"task": name, "pipeline": pipe.name, "deps": dep_ids},
                        )
                    else:
                        df, executed = build(), self.eager
                        if executed:
                            # opt-in: execute every task for per-task
                            # status/failure fidelity (costs O(depth²)
                            # recompute on deep chains — small inputs only)
                            df.count()
                results[name] = df
                t.result = df
                if obs is not None:
                    if executed:
                        t.metrics = obs.get
                    else:
                        pending_obs[name] = obs
                if pipe in self._killed_pipes:
                    # a kill that landed mid-task must not be
                    # overwritten by this completion — the documented
                    # contract is that kill marks in-flight work failed
                    t.status = "failed"
                    self._journal(pipe, name, "failed")
                    break
                t.status = "finished" if executed else "reused" if persist else "compiled"
                self._journal(pipe, name, t.status)
                break
            except Exception as e:  # noqa: BLE001 — mirror Yuki's broad failure marking
                if attempt < self.max_retries:
                    self._journal(pipe, name, "running", error=f"retry {attempt + 1}: {e}")
                    continue
                t.status = "failed"
                t.error = str(e)
                self._journal(pipe, name, "failed", error=t.error)
                for d in pipe.downstream(name):
                    pipe.tasks[d].status = "upstream_failed"
                    self._journal(pipe, d, "upstream_failed")

    def _finalize(
        self,
        spark: SparkSession,
        pipe: Pipeline,
        order: list[str],
        results: dict[str, DataFrame],
        imp_ids: dict[str, str],
        pending_obs: dict[str, Any],
        explains: dict[str, str],
    ) -> dict[str, Any]:
        # a compiled task's observation resolves iff some downstream
        # action (an impression write, or a caller action) executed its
        # plan — read non-blockingly so unexecuted tasks stay None
        for name, obs in pending_obs.items():
            if not obs._jo.getRowOrEmpty().isEmpty():
                pipe.tasks[name].metrics = obs.get
        if self.store is not None and self.collect_logs:
            import time

            for name, imp in imp_ids.items():
                t = pipe.tasks[name]
                entry = {
                    "task": name,
                    "pipeline": pipe.name,
                    "status": t.status,
                    "error": t.error,
                    "conf": t.conf,
                    "explain": explains.get(name),
                    "metrics": t.metrics,
                    "logged_at": time.time(),
                }
                # a reused task never recompiled, so this run has no
                # explain/metrics for it — keep the artifact from the
                # run that actually produced the deposit instead of
                # clobbering it with Nones
                if t.status == "reused":
                    prev = self.store.logs(imp)
                    if prev is not None:
                        entry["explain"] = prev.get("explain")
                        if entry["metrics"] is None:
                            entry["metrics"] = prev.get("metrics")
                self.store.write_logs(imp, entry)
        return {
            "statuses": pipe.statuses(),
            "impressions": imp_ids,
            "results": results,
            "metrics": {n: pipe.tasks[n].metrics for n in order},
        }


class RemoteSessionBackend(LocalBackend):
    """A backend that executes its tasks on a DIFFERENT session than
    the caller's — the 'run this step on another machine' observable
    (parity: the reference registers remote runners and dispatches an
    impression to one — /root/reference/Yuki/server/routes/runner.py:46
    ``register-runner`` with a ``backend_type``, execution.py:103
    ``run/<impression>/<machine>``; its REANA backend,
    kernel/reana_workflow.py, is the remote-cluster analogue).

    Two modes:

    - ``remote_url`` given: tasks run on a Spark-Connect session
      (``SparkSession.builder.remote(url)``) — a genuinely separate
      cluster; the driver-side fn ships only the *plan*, exactly like
      submitting to a second Spark master.
    - no ``remote_url``: tasks run on ``spark.newSession()`` — same
      SparkContext, fully isolated SQL conf/temp views/UDFs. This is
      the single-JVM stand-in for a second machine: the isolation
      boundary (no shared session state, ``session_conf`` applied as
      the machine's fixed run config) is identical, only the physical
      placement differs.

    Data crosses the machine boundary through the ImpressionStore
    (content-addressed parquet), never through in-memory session
    state — a routed run persists runner-boundary tasks, and this
    backend reads its inputs back from the store on ITS session. That
    is the reference's model too: impressions are collected from
    runners as files.
    """

    def __init__(
        self,
        store: ImpressionStore | None = None,
        remote_url: str | None = None,
        session_conf: dict[str, str] | None = None,
        **kwargs,
    ):
        super().__init__(store=store, **kwargs)
        self.remote_url = remote_url
        self.session_conf = dict(session_conf or {})
        self._session: SparkSession | None = None
        self._session_guard = _threading.Lock()

    def session_for(self, spark: SparkSession) -> SparkSession:
        with self._session_guard:
            if self._session is None:
                if self.remote_url is not None:
                    self._session = SparkSession.builder.remote(
                        self.remote_url
                    ).getOrCreate()
                else:
                    self._session = spark.newSession()
                for k, v in self.session_conf.items():
                    self._session.conf.set(k, v)
            return self._session

    def connection(self) -> dict[str, str]:
        """Liveness probe (parity: runner.py:30 ``runner-connection``
        pings a runner's URL). A session that can still run a trivial
        job is Connected. Before any session exists the probe must NOT
        claim Connected — a bogus ``remote_url`` that can never be
        reached would otherwise report healthy until the first real
        task failed; with no local session to bootstrap a remote
        connection from, it reports its actual state instead."""
        try:
            if self._session is None:
                if self.remote_url is None:
                    # a plain newSession() backend has nothing to probe
                    # until a run creates one — and nothing that can
                    # fail to connect either
                    return {"status": "not yet connected (local session)"}
                # actually establish + ping the remote, exactly what
                # session_for does on first use (no parent session
                # required for the remote path)
                self.session_for(None)  # type: ignore[arg-type]
            self._session.range(1).count()
            return {"status": "Connected"}
        except Exception as e:  # noqa: BLE001 — probe reports, never raises
            return {"status": f"unreachable: {e}"}


class AsyncRun:
    """Pollable handle for a dispatched pipeline run (parity: Yuki
    dispatches via Celery — server/tasks.py:30 — and clients poll the
    status routes while it executes; here the pipeline's own statuses
    ARE the pollable surface, live-updated by the worker thread)."""

    def __init__(self, pipe: Pipeline, backend: "LocalBackend"):
        self._pipe = pipe
        self._backend = backend
        self._thread = None
        self._result: dict[str, Any] | None = None
        self._error: BaseException | None = None

    def status(self) -> str:
        """Workflow-level rollup, readable while the run is live."""
        return self._pipe.status()

    def statuses(self) -> dict[str, str]:
        return self._pipe.statuses()

    def done(self) -> bool:
        return self._thread is not None and not self._thread.is_alive()

    def kill(self) -> None:
        """Parity: the kill route aborts a dispatched execution."""
        self._backend.kill(self._pipe)

    def join(self, timeout: float | None = None) -> dict[str, Any]:
        """Wait for completion and return the backend's result dict;
        re-raises an unexpected dispatch error. Raises TimeoutError if
        the run is still live after ``timeout`` seconds."""
        self._thread.join(timeout)
        if self._thread.is_alive():
            raise TimeoutError(f"pipeline {self._pipe.name!r} still running")
        if self._error is not None:
            raise self._error
        return self._result
