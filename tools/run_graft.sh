#!/bin/bash
# Direct JVM runner (no sbt): tools/run_graft.sh <MainClass> [args...]
# Runs the classes compiled in this script's own checkout (`sbt compile`).
# Env: GRAFT_MEM (default 16g), GRAFT_JVM_EXTRA
OPENS="java.base/java.lang java.base/java.lang.invoke java.base/java.lang.reflect java.base/java.io java.base/java.net java.base/java.nio java.base/java.util java.base/java.util.concurrent java.base/java.util.concurrent.atomic java.base/sun.nio.ch java.base/sun.nio.cs java.base/sun.security.action java.base/sun.util.calendar"
ADDOPENS=""
for p in $OPENS; do ADDOPENS="$ADDOPENS --add-opens $p=ALL-UNNAMED"; done
CLASSES="$(cd "$(dirname "${BASH_SOURCE[0]}")/.." && pwd)/target/scala-2.13/classes"
exec java $ADDOPENS -Xmx${GRAFT_MEM:-16g} ${GRAFT_JVM_EXTRA} \
  -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC \
  -cp "$CLASSES:/opt/spark/jars/*" "$@"
