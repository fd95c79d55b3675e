#!/bin/bash
# Same-day alternating A/B of untouched bench queries between two
# compiled trees (r10 verdict item 1: q01/t02/e01 regressed r9->r10
# with no code change and a 1.24 contention reading — this settles
# binary-vs-box by interleaving the two binaries minute-by-minute).
# Usage: ab_scratch.sh <treeA> <treeB> <queries> <blocks> <reps> <sfdir>
# Cores and heap default as Tier-1 sizes them: nproc, and MemTotal/2
# clamped to 2-8 GiB; SPARK_GRAFT_CPUS and SPARK_DRIVER_MEM override.
set -u
CPUS=${SPARK_GRAFT_CPUS:-$(nproc)}
HEAP=${SPARK_DRIVER_MEM:-$(awk '/^MemTotal:/ {g = int($2 / 2097152)}
  END {print (g < 2 ? 2 : g > 8 ? 8 : g) "g"}' /proc/meminfo 2>/dev/null || echo 2g)}
A=$1; B=$2; Q=$3; BLOCKS=${4:-3}; REPS=${5:-4}; SF=${6:-/root/testdata/sf0.1}
ADD_OPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net \
         java.nio java.util java.util.concurrent java.util.concurrent.atomic \
         sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  ADD_OPENS="$ADD_OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
run() { # tree tag block
  SPARK_GRAFT_CPUS=$CPUS java $ADD_OPENS -Xmx"$HEAP" -Dspark.ui.enabled=false \
    -Dspark.sql.session.timeZone=UTC \
    -cp "$1/target/scala-2.13/classes:/opt/spark/jars/*" \
    graft.Scratch "$SF" "$Q" "$REPS" 2>/dev/null \
    | grep '\[scratch\]' | sed "s/^/[$2 block$3] /"
}
for b in $(seq 1 "$BLOCKS"); do
  run "$A" A "$b"
  run "$B" B "$b"
done
