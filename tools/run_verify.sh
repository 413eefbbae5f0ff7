#!/bin/bash
# Run graft.Verify from the compiled classes (fast path — skips sbt's JVM
# startup) and then the driver-mirror parity check. Compile first:
#   sbt compile && tools/run_verify.sh [sfDir] [outDir]
set -e
cd "$(dirname "$0")/.."
SF=${1:-/root/testdata/sf0.01}
OUT=${2:-/tmp/verify_out}
ADD_OPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net \
         java.nio java.util java.util.concurrent java.util.concurrent.atomic \
         sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  ADD_OPENS="$ADD_OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
java $ADD_OPENS -Xmx8g -cp "target/scala-2.13/classes:/opt/spark/jars/*" \
  graft.Verify "$SF" "$OUT"
python3 tools/parity_check.py "$SF" "$OUT"
