#!/bin/bash
# Run ScalaTest suites directly (clean stdout, no sbt shell).
# Usage: tools/test.sh [SuiteClass ...]   (no args = discover all under graft)
set -e
CS=$(find "$HOME/.cache/coursier" -name '*_2.13-3.2.19.jar' -o -name 'scalatest-compatible-3.2.19.jar' -o -name 'scala-xml_2.13-*.jar' \
  -o -name 'scalacheck_2.13-1.18.0.jar' -o -name 'test-interface-1.0.jar' 2>/dev/null | tr '\n' ':')
CP="/root/repo/target/scala-2.13/test-classes:/root/repo/target/scala-2.13/classes:/opt/spark/jars/*:$CS"
ADDOPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net java.nio \
         java.util java.util.concurrent java.util.concurrent.atomic; do
  ADDOPENS="$ADDOPENS --add-opens java.base/$p=ALL-UNNAMED"
done
for p in sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  ADDOPENS="$ADDOPENS --add-opens java.base/$p=ALL-UNNAMED"
done
ARGS=""
if [ $# -eq 0 ]; then
  ARGS="-R /root/repo/target/scala-2.13/test-classes"
else
  for s in "$@"; do ARGS="$ARGS -s $s"; done
fi
# heap: SPARK_DRIVER_MEM, else half the machine's memory clamped to 2-8g
# (the same formula as the tier-1 command in ROADMAP.md)
HEAP="${SPARK_DRIVER_MEM:-$(awk '/^MemTotal:/ {g = int($2 / 2097152)} END {print (g < 2 ? 2 : g > 8 ? 8 : g) "g"}' 2>/dev/null </proc/meminfo || echo 2g)}"
exec java -cp "$CP" $ADDOPENS -Xmx"$HEAP" \
  -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC \
  org.scalatest.tools.Runner -o $ARGS
