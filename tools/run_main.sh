#!/bin/bash
# Run a graft main directly on the compiled classes (bypasses sbt so a
# long-running `sbt test` and a data-synthesis/bench main can proceed in
# parallel without fighting over the sbt server/target lock).
# Usage: run_main.sh [-Xmx<heap>] <mainClass> [args...]
# Extra JVM -D flags can be passed via RUN_MAIN_JVM_OPTS.
set -euo pipefail
ROOT="$(cd "$(dirname "${BASH_SOURCE[0]}")/.." && pwd)"
HEAP="8g"
if [[ "${1:-}" == -Xmx* ]]; then HEAP="${1#-Xmx}"; shift; fi
MAIN="$1"; shift
ADD_OPENS=()
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net \
         java.nio java.util java.util.concurrent java.util.concurrent.atomic \
         sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  ADD_OPENS+=("--add-opens" "java.base/$p=ALL-UNNAMED")
done
exec java -Xmx"$HEAP" "${ADD_OPENS[@]}" \
  -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC \
  ${RUN_MAIN_JVM_OPTS:-} \
  -cp "$ROOT/target/scala-2.13/classes:${SPARK_HOME:?SPARK_HOME must name the Spark installation}/jars/*" \
  "$MAIN" "$@"
