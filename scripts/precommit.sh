#!/usr/bin/env bash
# Compile tripwire: a broken HEAD must never ship (round 13 shipped one —
# a single uncompilable line zeroed every gate for the round). Run this
# before EVERY commit; install as a local hook with:
#   ln -sf ../../scripts/precommit.sh .git/hooks/pre-commit
# Exit nonzero = do not commit.
#
# Also compiles the benchmark harness: perfbench/ builds src/main together
# with its own sources, so a store or catalog API change can break the
# benchmark while Test/compile still passes. That build runs with the
# offline settings perfbench/run.py gives it (sbt_env).
set -euo pipefail
cd "$(dirname "$0")/.."
log=$(mktemp)
trap 'rm -f "$log"' EXIT
fail() {
  tail -30 "$log"
  echo "[precommit] $1 FAILED — commit blocked"
  exit 1
}
echo "[precommit] sbt compile (Test/compile included)…"
sbt -batch 'Test/compile' >"$log" 2>&1 || fail "compile"
echo "[precommit] benchmark harness compile (perfbench/)…"
bench_opts="-Dsbt.offline=true -Xmx2g"
if [[ -f "$HOME/.sbt/repositories" ]]; then
  bench_opts+=" -Dsbt.override.build.repos=true"
  bench_opts+=" -Dsbt.repository.config=$HOME/.sbt/repositories"
fi
(cd perfbench && COURSIER_MODE=offline SBT_OPTS="$bench_opts" \
  sbt -batch compile) >"$log" 2>&1 || fail "benchmark harness compile"
echo "[precommit] OK"
