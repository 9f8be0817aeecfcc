#!/usr/bin/env bash
# Run graft.Bench (or any main) against a FROZEN copy of the compiled
# classes, so source edits and sbt compiles during a long bench run can't
# rewrite class files under the lazy-loading JVM (the gate.sh discipline
# applied to benching). Usage:
#   tools/bench_frozen.sh                 # full-suite graft.Bench
#   tools/bench_frozen.sh graft.Tool time <sfDir> --reps 3 q101_triangles
# Env: SPARK_GRAFT_SF_DIR, SPARK_GRAFT_CPUS, SPARK_GRAFT_BENCH_REPS,
#      SPARK_GRAFT_BENCH_ONLY pass through. FROZEN_CLASSES reuses a prior
#      freeze (skip the copy).
set -uo pipefail
cd "$(dirname "$0")/.."

if [ -z "${FROZEN_CLASSES:-}" ]; then
  FROZEN_CLASSES=$(mktemp -d)/classes
  cp -r target/scala-2.13/classes "$FROZEN_CLASSES"
  echo "frozen: $FROZEN_CLASSES" >&2
fi
CP="$FROZEN_CLASSES:/opt/spark/jars/*"

MAIN="${1:-graft.Bench}"
shift || true
exec java -cp "$CP" @tools/add_opens.args -Xmx48g \
  -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC \
  "$MAIN" "$@"
