#!/bin/bash
# One calibration draw of the crawl bench child at a given core count,
# bracketed by window probes (same probe graft.Bench embeds in its JSON).
# Optional EXTRA_JVM flags and EXTRA_ENV assignments go to the child only,
# for A/B-ing GC / huge-page / codec variants at a fixed rung.
# usage: [EXTRA_JVM="-XX:+UseParallelGC"] [EXTRA_ENV="K=V"] \
#        calib_draw.sh <cores> [pages] [hosts] [body] [waves] [seedstep]
# Probe threads follow nproc; -Xmx is half of MemTotal, clamped to 2-8 GB.
set -u
CORES=$1
PAGES=${2:-2400000}
HOSTS=${3:-$((PAGES/50))}
BODY=${4:-16000}
WAVES=${5:-2}
STEP=${6:-2}
EXTRA_JVM=${EXTRA_JVM:-}
DIR=/tmp/zenospark-bench-corpus-cache/p${PAGES}_h${HOSTS}_b${BODY}
CP="target/scala-2.13/classes:/opt/spark/jars/*"
THREADS=$(nproc)
XMX=$(awk '/^MemTotal:/ {g = int($2 / 2097152)} END {print (g < 2 ? 2 : g > 8 ? 8 : g) "g"}' </proc/meminfo)
OPENS="--add-opens java.base/java.lang=ALL-UNNAMED --add-opens java.base/java.lang.invoke=ALL-UNNAMED \
 --add-opens java.base/java.lang.reflect=ALL-UNNAMED --add-opens java.base/java.io=ALL-UNNAMED \
 --add-opens java.base/java.net=ALL-UNNAMED --add-opens java.base/java.nio=ALL-UNNAMED \
 --add-opens java.base/java.util=ALL-UNNAMED --add-opens java.base/java.util.concurrent=ALL-UNNAMED \
 --add-opens java.base/java.util.concurrent.atomic=ALL-UNNAMED --add-opens java.base/sun.nio.ch=ALL-UNNAMED \
 --add-opens java.base/sun.nio.cs=ALL-UNNAMED --add-opens java.base/sun.security.action=ALL-UNNAMED \
 --add-opens java.base/sun.util.calendar=ALL-UNNAMED"
COMMON="-Xmx$XMX -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC"
java $OPENS $COMMON -cp "$CP" graft.tools.ProbeMain "$THREADS" 1
T0=$(date +%s.%N)
env ${EXTRA_ENV:-X=1} java $OPENS $COMMON $EXTRA_JVM -XX:ActiveProcessorCount=$CORES -cp "$CP" \
  graft.tools.CrawlBenchChild "$DIR" "$CORES" "$WAVES" "$PAGES" "$HOSTS" "$BODY" "$STEP"
T1=$(date +%s.%N)
echo "CHILD_WALL $(echo "$T1 $T0" | awk '{printf "%.1f", $1-$2}') EXTRA=[$EXTRA_JVM]"
java $OPENS $COMMON -cp "$CP" graft.tools.ProbeMain "$THREADS" 1
