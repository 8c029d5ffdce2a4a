#!/bin/bash
# Isolated single-/multi-query bench in a fresh JVM — same protocol as
# Bench.runChild (5 reps, 1 warmup by default). Usage:
#   scripts/iso.sh q187_cf_holdout_eval[,q153_negative_samples] [reps] [warmup]
# SPARK_GRAFT_CPUS reaches the child only when it is set; unset, the
# child uses GraftSession's min(32, nproc) threads, as Bench's own do.
set -euo pipefail
NAMES="$1"; REPS="${2:-5}"; WARM="${3:-1}"
CLS=/root/repo/target/scala-2.13/classes
MOD="--add-opens=java.base/java.lang=ALL-UNNAMED --add-opens=java.base/java.lang.invoke=ALL-UNNAMED --add-opens=java.base/java.lang.reflect=ALL-UNNAMED --add-opens=java.base/java.io=ALL-UNNAMED --add-opens=java.base/java.net=ALL-UNNAMED --add-opens=java.base/java.nio=ALL-UNNAMED --add-opens=java.base/java.util=ALL-UNNAMED --add-opens=java.base/java.util.concurrent=ALL-UNNAMED --add-opens=java.base/java.util.concurrent.atomic=ALL-UNNAMED --add-opens=java.base/jdk.internal.ref=ALL-UNNAMED --add-opens=java.base/sun.nio.ch=ALL-UNNAMED --add-opens=java.base/sun.nio.cs=ALL-UNNAMED --add-opens=java.base/sun.security.action=ALL-UNNAMED --add-opens=java.base/sun.util.calendar=ALL-UNNAMED"
TMP=$(mktemp -d /tmp/graft-iso.XXXX)
cd "$TMP"
SPARK_GRAFT_ONLY="$NAMES" SPARK_GRAFT_REPS="$REPS" SPARK_GRAFT_WARMUP_REPS="$WARM" \
SPARK_GRAFT_CHILD=1 \
SPARK_GRAFT_SF_DIR="${SPARK_GRAFT_SF_DIR:-/root/testdata/sf0.1}" \
java -Xmx${ISO_XMX:-8g} $MOD -cp "$CLS:/opt/spark/jars/*" graft.Bench 2>/dev/null \
 | python3 -c '
import json,sys
for line in sys.stdin:
    if "\"metric\":\"bench_detail\"" in line:
        d=json.loads(line)
        for k,v in d["queries"].items():
            r=d["runs"][k]
            print(f"{k:44s} med={v} runs={r}")
'
rm -rf "$TMP"
