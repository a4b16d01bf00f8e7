#!/bin/bash
# Usage: run_bench_entry.sh <entry[,entry]> <cpus> <xmx> [outfile]
# Runs the named graft.Bench entries in one fresh JVM and writes the
# bench's last stdout line (its JSON record) to outfile. The JVM's stderr
# goes to $BENCH_LOG (default target/bench_entry.stderr.log). If java
# exits non-zero or prints nothing, the script exits non-zero and leaves
# outfile untouched.
set -o pipefail
ENTRY="$1"; CPUS="${2:-32}"; XMX="${3:-8g}"; OUT="${4:-/dev/stdout}"
LOG="${BENCH_LOG:-target/bench_entry.stderr.log}"
mkdir -p "$(dirname "$LOG")"
AO=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net java.nio java.util java.util.concurrent java.util.concurrent.atomic sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  AO="$AO --add-opens java.base/$p=ALL-UNNAMED"
done
LINE=$(SPARK_GRAFT_SF_DIR="${SPARK_GRAFT_SF_DIR:-/root/testdata/sf0.1}" \
SPARK_GRAFT_CPUS="$CPUS" \
SPARK_GRAFT_BENCH_ONLY="$ENTRY" \
SPARK_GRAFT_BENCH_OUT="${BENCH_OUT:-target/bench_entry.json}" \
java $AO -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC \
  -Xmx$XMX -XX:ReservedCodeCacheSize=512m -XX:+TieredCompilation \
  -XX:+UnlockDiagnosticVMOptions -XX:GCLockerRetryAllocationCount=100 \
  -cp "target/scala-2.13/classes:/opt/spark/jars/*" graft.Bench 2>"$LOG" | tail -1)
RC=$?
if [ "$RC" -ne 0 ] || [ -z "$LINE" ]; then
  echo "run_bench_entry: graft.Bench failed (exit $RC); stderr in $LOG" >&2
  exit "$(( RC == 0 ? 1 : RC ))"
fi
printf '%s\n' "$LINE" > "$OUT"
