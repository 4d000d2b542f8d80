#!/bin/bash
# Dev launcher: run a graft main class directly against compiled classes.
# Usage: tools/run.sh <mainClass> [args...]   (after `sbt compile`)
# Spark jars come from $SPARK_HOME/jars, else from the directory build.sbt
# compiles against (its unmanagedBase).
set -e
REPO="$(cd "$(dirname "${BASH_SOURCE[0]}")/.." && pwd)"
SPARK_JARS="${SPARK_HOME:+$SPARK_HOME/jars}"
[ -d "$SPARK_JARS" ] ||
  SPARK_JARS="$(sed -n 's/^unmanagedBase := file("\(.*\)").*/\1/p' "$REPO/build.sbt")"
CP="$REPO/target/scala-2.13/classes:$SPARK_JARS/*"
ADD_OPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net java.nio \
         java.util java.util.concurrent java.util.concurrent.atomic \
         sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  ADD_OPENS="$ADD_OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
exec java $ADD_OPENS -Xmx${SPARK_DRIVER_MEM:-8g} \
  -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC \
  -cp "$CP" "$@"
