#!/bin/bash
# Dev loop: verify a comma-separated subset of queries against the
# DuckDB oracle at one scale factor without sbt startup overhead.
# Usage: tools/quick_verify.sh <sfdir> <q1,q2,...> [outdir]
set -e
SF="$1"; ONLY="$2"; OUT="${3:-/tmp/qv_$(echo "$2" | tr ',' '_' | cut -c1-40)}"
ADDOPENS="--add-opens java.base/java.lang=ALL-UNNAMED --add-opens java.base/java.lang.invoke=ALL-UNNAMED --add-opens java.base/java.lang.reflect=ALL-UNNAMED --add-opens java.base/java.io=ALL-UNNAMED --add-opens java.base/java.net=ALL-UNNAMED --add-opens java.base/java.nio=ALL-UNNAMED --add-opens java.base/java.util=ALL-UNNAMED --add-opens java.base/java.util.concurrent=ALL-UNNAMED --add-opens java.base/java.util.concurrent.atomic=ALL-UNNAMED --add-opens java.base/sun.nio.ch=ALL-UNNAMED --add-opens java.base/sun.nio.cs=ALL-UNNAMED --add-opens java.base/sun.security.action=ALL-UNNAMED --add-opens java.base/sun.util.calendar=ALL-UNNAMED"
rm -rf "$OUT"
SPARK_GRAFT_ONLY="$ONLY" SPARK_GRAFT_CPUS="${SPARK_GRAFT_CPUS:-8}" \
  java $ADDOPENS -Xmx16g -Dspark.ui.enabled=false \
  -Dspark.sql.session.timeZone=UTC \
  -cp "target/scala-2.13/classes:/opt/spark/jars/*" \
  graft.Verify "$SF" "$OUT" 2>&1 | grep -E "\[verify\]" || true
# Verify writes the FULL oracle_sql.json; trim to the requested subset
# so check_oracle doesn't report the unrun queries as failures.
python3 - "$OUT" "$ONLY" <<'EOF'
import json, sys
out, only = sys.argv[1], set(sys.argv[2].split(","))
p = f"{out}/oracle_sql.json"
d = {k: v for k, v in json.load(open(p)).items() if k in only}
json.dump(d, open(p, "w"))
EOF
python3 tools/check_oracle.py "$OUT" "$SF"
