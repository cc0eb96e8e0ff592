#!/bin/bash
# Run graft.Verify outside sbt (fast): classes + /opt/spark/jars
SF=${1:-/root/testdata/sf0.01}
OUT=${2:-/tmp/verify_out}
rm -rf "$OUT"
ADD_OPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net java.nio java.util java.util.concurrent java.util.concurrent.atomic; do
  ADD_OPENS="$ADD_OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
for p in sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  ADD_OPENS="$ADD_OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
# the classes of the checkout this script lives in, not of another copy
CLASSES="$(cd "$(dirname "$0")/.." && pwd)/target/scala-2.13/classes"
# UTF-8 stdout by default (JDK 17 otherwise prints non-ASCII as `?` in a
# POSIX locale); GRAFT_JAVA_OPTS comes later, so it can override them
exec java $ADD_OPENS -Dfile.encoding=UTF-8 -Dsun.stdout.encoding=UTF-8 \
  ${GRAFT_JAVA_OPTS:-} -Xmx${GRAFT_XMX:-8g} \
  -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC \
  -cp "$CLASSES:/opt/spark/jars/*" \
  "${MAIN:-graft.Verify}" "$SF" "$OUT"
