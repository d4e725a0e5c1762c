#!/usr/bin/env bash
# Two-process CI runner: splits the suite into two balanced halves and
# runs them concurrently, each with its own Spark JVM on half the
# cores. Single-process wall-clock is ~11 min (two Spark-heavy gates —
# the every-key oracle parity sweep and the every-key empty-catalog sweep —
# dominate); the split runs them beside the rest of the suite. Each
# pytest process isolates its own artifact-store sandbox (conftest
# mkdtemps a per-session YUKI_SPARK_DEDUP_STORE / _SIM_STORE), so the
# halves never contend on deposits; even a shared store would be safe:
# family artifacts and persisted Pipeline tasks both deposit through
# ImpressionStore.publish, which builds each address once per process
# and renames a complete deposit into place (a lost race reads the
# winner).
#
# Usage: tools/citest.sh [extra pytest args for both halves]
set -u
cd "$(dirname "$0")/.."

HALF_A=(tests/test_oracle_parity.py tests/test_scale_plans.py
        tests/test_empty_catalog.py tests/test_schema_snapshot.py)
mapfile -t IGNORES < <(printf -- '--ignore=%s\n' "${HALF_A[@]}")

# The builder's CI runs the FULL suite including the slow tier
# (stress/property tests conftest skips by default so the driver's
# budget-bounded single-process run completes — r14 verdict item 1).
export YUKI_SPARK_RUN_SLOW=1

SPARK_GRAFT_CPUS="${SPARK_GRAFT_CPUS_A:-14}" \
  python -m pytest "${HALF_A[@]}" -q -p no:cacheprovider "$@" &
PID_A=$!
SPARK_GRAFT_CPUS="${SPARK_GRAFT_CPUS_B:-14}" \
  python -m pytest tests/ "${IGNORES[@]}" -q -p no:cacheprovider "$@" &
PID_B=$!

rc=0
wait "$PID_A" || rc=1
wait "$PID_B" || rc=1
exit "$rc"
