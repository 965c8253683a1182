#!/bin/bash
# Direct-JVM runner for the three driver mains and the StreamBench and
# TxLogMirror tools — same classpath and JVM flags as the sbt-forked
# run (build.sbt), minus sbt's ~40 s startup and [info] prefixes.
# Compile first (`sbt -batch compile`); this runs whatever is in
# target/scala-2.13/classes, with src/main/resources (the txlog
# DataSourceRegister service file, which compile does not copy).
#
#   tools/run_direct.sh bench                # graft.Bench (env-driven)
#   tools/run_direct.sh verify <sf> <out> [keys...]
#   tools/run_direct.sh smoke                # graft.EntrySmoke
#   tools/run_direct.sh streambench [out.json]  # graft.StreamBench
#   tools/run_direct.sh mirror <sf> <root>   # graft.TxLogMirror
#
# Env knobs (same as the sbt path): SPARK_GRAFT_SF_DIR,
# SPARK_GRAFT_CPUS, SPARK_GRAFT_ONLY, SPARK_GRAFT_AQE,
# SPARK_DRIVER_MEM, EXTRA_JVM (e.g. -Xlog:gc:/tmp/gc.log).
set -eu
MODE="${1:?usage: run_direct.sh bench|verify|smoke|streambench|mirror [args...]}"; shift
case "$MODE" in
  bench)  MAIN=graft.Bench ;;
  verify) MAIN=graft.Verify ;;
  smoke)  MAIN=graft.EntrySmoke ;;
  streambench) MAIN=graft.StreamBench ;;
  mirror) MAIN=graft.TxLogMirror ;;
  *) echo "unknown mode $MODE" >&2; exit 2 ;;
esac
REPO="$(cd "$(dirname "$0")/.." && pwd)"
ADDOPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net \
         java.nio java.util java.util.concurrent java.util.concurrent.atomic \
         sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  ADDOPENS="$ADDOPENS --add-opens java.base/$p=ALL-UNNAMED"
done
exec java $ADDOPENS \
  -Xmx"${SPARK_DRIVER_MEM:-8g}" \
  -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC \
  ${EXTRA_JVM:-} \
  -cp "$REPO/target/scala-2.13/classes:$REPO/src/main/resources:/opt/spark/jars/*" \
  "$MAIN" "$@"
