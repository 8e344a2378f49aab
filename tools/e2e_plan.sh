#!/usr/bin/env bash
# End-to-end CLI proof: run the SHIPPED example plans through the real
# graft.RunPlan main (the spark-submit entry point, not a test fixture)
# against real sf0.1 testdata, and assert the documented exit codes:
#   corpus_qc_plan.json  -> 0 (all gates pass on the bundled corpus)
#   orders_qc_plan.json  -> 3 (the 450k bound rule fails BY DESIGN)
#   corpus_refresh_plan.json, release_gate_plan.json -> 0
# Also asserts the JSON reports actually land in --report-dest, and runs
# every plan twice: the two reports must be byte-identical (`cmp`), so
# nondeterminism from the concurrent gate pass fails the check.
#
# Usage: tools/e2e_plan.sh [sfdir]   (default /root/testdata/sf0.1)
# Requires `sbt compile` to have produced target/scala-2.13/classes.
set -u
cd "$(dirname "$0")/.."

SFDIR="${1:-/root/testdata/sf0.1}"
DEST="$(mktemp -d /tmp/graft_e2e.XXXXXX)"
CP="target/scala-2.13/classes:/opt/spark/jars/*"
OPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net \
         java.nio java.util java.util.concurrent \
         java.util.concurrent.atomic; do
  OPENS="$OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
for p in sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  OPENS="$OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
JAVA_ARGS="$OPENS -Xmx8g -Dspark.ui.enabled=false \
  -Dspark.sql.session.timeZone=UTC -Dspark.master=local[8] \
  -Dspark.sql.shuffle.partitions=8"

mkdir -p "$DEST/logs" "$DEST/run1" "$DEST/run2"

run_plan() { # plan expected_exit report_key
  local plan="$1" want="$2" key="$3" run
  for run in run1 run2; do
    # Logs live OUTSIDE --report-dest: a log file matching the key must
    # never satisfy the report-presence check below.
    java $JAVA_ARGS -cp "$CP" graft.RunPlan "examples/$plan" \
      --var "sfdir=$SFDIR" --report-key "$key" \
      --report-dest "$DEST/$run" >"$DEST/logs/$key.$run.log" 2>&1
    local got=$?
    if [ "$got" -ne "$want" ]; then
      echo "FAIL $plan ($run): exit $got, expected $want (log: $DEST/logs/$key.$run.log)"
      tail -5 "$DEST/logs/$key.$run.log"
      return 1
    fi
    if [ ! -f "$DEST/$run/$key.json" ]; then
      echo "FAIL $plan ($run): no report $key.json written under $DEST/$run"
      return 1
    fi
  done
  if ! cmp "$DEST/run1/$key.json" "$DEST/run2/$key.json"; then
    echo "FAIL $plan: the two runs wrote different reports"
    return 1
  fi
  echo "OK   $plan: exit $got twice, identical reports"
}

fails=0
run_plan corpus_qc_plan.json 0 corpus_qc || fails=$((fails+1))
run_plan orders_qc_plan.json 3 orders_qc || fails=$((fails+1))
run_plan corpus_refresh_plan.json 0 corpus_refresh || fails=$((fails+1))
run_plan release_gate_plan.json 0 release_gate || fails=$((fails+1))

if [ "$fails" -eq 0 ]; then
  echo "e2e plan CLI: all green ($SFDIR)"
else
  echo "e2e plan CLI: $fails failure(s)"
fi
exit "$fails"
