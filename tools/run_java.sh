#!/bin/bash
# Run a graft main with plain java (no sbt lock): tools/run_java.sh <MainClass> [args...]
# Env: SPARK_DRIVER_MEM (default 8g), plus whatever the main reads.
CP="/root/repo/target/scala-2.13/classes:/opt/spark/jars/*"
OPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net java.nio \
         java.util java.util.concurrent java.util.concurrent.atomic; do
  OPENS="$OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
for p in sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  OPENS="$OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
exec java $OPENS -Dspark.ui.enabled=false \
  -Xmx${SPARK_DRIVER_MEM:-8g} -cp "$CP" "$@"
