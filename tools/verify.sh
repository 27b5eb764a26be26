#!/bin/bash
# Fast local verify loop: compile once via sbt, then run graft.Verify with
# plain java (skips sbt JVM startup per iteration).
# Usage: tools/verify.sh [sfDir] [outDir]
set -e
cd "$(dirname "$0")/.."
SF=${1:-/root/testdata/sf0.01}
OUT=${2:-/tmp/verify_out}
sbt -batch compile 1>&2
ADD_OPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net \
         java.nio java.util java.util.concurrent java.util.concurrent.atomic; do
  ADD_OPENS="$ADD_OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
ADD_OPENS="$ADD_OPENS --add-opens java.base/sun.nio.ch=ALL-UNNAMED \
 --add-opens java.base/sun.nio.cs=ALL-UNNAMED \
 --add-opens java.base/sun.security.action=ALL-UNNAMED \
 --add-opens java.base/sun.util.calendar=ALL-UNNAMED"
rm -rf "$OUT"
java $ADD_OPENS -Xmx8g -XX:ReservedCodeCacheSize=512m \
  -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC \
  -cp "target/scala-2.13/classes:/opt/spark/jars/*" \
  graft.Verify "$SF" "$OUT"
