#!/bin/bash
# Direct JVM launcher for graft mains (bypasses the sbt project lock).
# Usage: run_tool.sh <mainClass> [args...]
# env: TOOL_MEM — JVM heap (default 48g; the sbt `run` path defaults to
#      SPARK_DRIVER_MEM=32g, so pass TOOL_MEM=32g when comparing timings
#      across the two launchers).
if [ $# -eq 0 ]; then
  echo "usage: $0 <mainClass> [args...]" >&2
  exit 2
fi
REPO_ROOT="$(cd "$(dirname "$0")/.." && pwd)"
CLS="$1"; shift
OPENS="--add-opens java.base/java.lang=ALL-UNNAMED --add-opens java.base/java.lang.invoke=ALL-UNNAMED --add-opens java.base/java.lang.reflect=ALL-UNNAMED --add-opens java.base/java.io=ALL-UNNAMED --add-opens java.base/java.net=ALL-UNNAMED --add-opens java.base/java.nio=ALL-UNNAMED --add-opens java.base/java.util=ALL-UNNAMED --add-opens java.base/java.util.concurrent=ALL-UNNAMED --add-opens java.base/java.util.concurrent.atomic=ALL-UNNAMED --add-opens java.base/sun.nio.ch=ALL-UNNAMED --add-opens java.base/sun.nio.cs=ALL-UNNAMED --add-opens java.base/sun.security.action=ALL-UNNAMED --add-opens java.base/sun.util.calendar=ALL-UNNAMED"
exec java $OPENS -Xmx${TOOL_MEM:-48g} \
  -cp "$REPO_ROOT/target/scala-2.13/classes:/opt/spark/jars/*" "$CLS" "$@"
