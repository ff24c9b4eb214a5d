#!/bin/bash
# Launch a graft main class without sbt (frees the sbt lock for dev work).
# Usage: tools/run_main.sh <MainClass> [args...]; needs SPARK_HOME (the Spark
# distribution), honors SPARK_DRIVER_MEM and GRAFT_CLASSES (default: this
# checkout's sbt class dir).
MAIN=$1; shift
OPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net java.nio \
         java.util java.util.concurrent java.util.concurrent.atomic \
         sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  OPENS="$OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
exec java $OPENS -Xmx${SPARK_DRIVER_MEM:-8g} \
  -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC \
  -cp "${GRAFT_CLASSES:-$(dirname "$0")/../target/scala-2.13/classes}:${SPARK_HOME:?set SPARK_HOME}/jars/*" \
  "$MAIN" "$@"
