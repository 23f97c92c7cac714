#!/usr/bin/env bash
# The full pre-commit gate, in one shot — run this before ANY milestone
# or end-of-round snapshot commit (round 5 shipped red because a kernel
# rename was committed without compiling its callers; this script makes
# that impossible to repeat cheaply).
#
#   tools/gate.sh            # compile + tests + correctness vs DuckDB + bench
#   tools/gate.sh --fast     # skip the bench (correctness only)
#
# Exits non-zero on the first failure.
set -euo pipefail
cd "$(dirname "$0")/.."

ADDOPENS="--add-opens java.base/java.lang=ALL-UNNAMED --add-opens java.base/java.lang.invoke=ALL-UNNAMED --add-opens java.base/java.lang.reflect=ALL-UNNAMED --add-opens java.base/java.io=ALL-UNNAMED --add-opens java.base/java.net=ALL-UNNAMED --add-opens java.base/java.nio=ALL-UNNAMED --add-opens java.base/java.util=ALL-UNNAMED --add-opens java.base/java.util.concurrent=ALL-UNNAMED --add-opens java.base/java.util.concurrent.atomic=ALL-UNNAMED --add-opens java.base/sun.nio.ch=ALL-UNNAMED --add-opens java.base/sun.nio.cs=ALL-UNNAMED --add-opens java.base/sun.security.action=ALL-UNNAMED --add-opens java.base/sun.util.calendar=ALL-UNNAMED"
CP="target/scala-2.13/classes:/opt/spark/jars/*"
OUT=$(mktemp -d /tmp/graft-gate.XXXXXX)

echo "== 1/4 compile + scalatest =="
sbt -batch test

echo "== 2/4 correctness dump (sf0.01) =="
java $ADDOPENS -Dspark.ui.enabled=false -Xmx8g -cp "$CP" \
  graft.Verify /root/testdata/sf0.01 "$OUT" 2>/dev/null

echo "== 3/4 DuckDB oracle compare (exact mode) =="
GRAFT_EXACT=1 python3 tools/check_correctness.py /root/testdata/sf0.01 "$OUT"

if [[ "${1:-}" != "--fast" ]]; then
  # sized to the host: every core, and half the memory clamped to 2-8 GB
  CPUS="$(env -u OMP_NUM_THREADS nproc)"
  HEAP="$(awk '/^MemTotal:/ {g = int($2 / 2097152)} END {print (g < 2 ? 2 : g > 8 ? 8 : g) "g"}' \
    /proc/meminfo 2>/dev/null || echo 2g)"
  echo "== 4/4 bench (sf0.1 at Bench's default dir, local[$CPUS], -Xmx$HEAP) =="
  SPARK_GRAFT_CPUS="$CPUS" \
    java $ADDOPENS -Dspark.ui.enabled=false -Xmx"$HEAP" -cp "$CP" graft.Bench 2>/dev/null | tail -1
  # a query that threw on any run is named in the artifact's "failed" map;
  # it drops out of the total, so the gate fails instead of staying green
  SF_NAME="$(basename "${SPARK_GRAFT_SF_DIR:-/root/testdata/sf0.1}")${SPARK_GRAFT_QUERIES:+_partial}"
  ART="${SPARK_GRAFT_BENCH_OUT:-bench}/bench_$SF_NAME.json"
  python3 - "$ART" <<'PY'
import json, sys
failed = json.load(open(sys.argv[1])).get("failed", {})
for name, msg in failed.items():
    print(f"FAILED {name}: {msg}")
sys.exit(1 if failed else 0)
PY
fi
echo "== gate green =="
