#!/bin/bash
# Local correctness loop: compile, run graft.Verify at sf0.01, compare
# against the DuckDB oracle the way the driver does.
set -e
cd /root/repo
SF=${1:-/root/testdata/sf0.01}
OUT=${2:-/tmp/verify_out}
rm -rf "$OUT"
sbt -batch compile > /tmp/sbt_compile.log 2>&1 || { tail -30 /tmp/sbt_compile.log; exit 1; }
CP="target/scala-2.13/classes:$(ls /opt/spark/jars/*.jar | tr '\n' ':')"
JAVA_OPTS="--add-opens=java.base/java.lang=ALL-UNNAMED --add-opens=java.base/java.lang.invoke=ALL-UNNAMED --add-opens=java.base/java.lang.reflect=ALL-UNNAMED --add-opens=java.base/java.io=ALL-UNNAMED --add-opens=java.base/java.net=ALL-UNNAMED --add-opens=java.base/java.nio=ALL-UNNAMED --add-opens=java.base/java.util=ALL-UNNAMED --add-opens=java.base/java.util.concurrent=ALL-UNNAMED --add-opens=java.base/java.util.concurrent.atomic=ALL-UNNAMED --add-opens=java.base/sun.nio.ch=ALL-UNNAMED --add-opens=java.base/sun.nio.cs=ALL-UNNAMED --add-opens=java.base/sun.security.action=ALL-UNNAMED --add-opens=java.base/sun.util.calendar=ALL-UNNAMED"
SPARK_GRAFT_CPUS=${SPARK_GRAFT_CPUS:-8} java $JAVA_OPTS -Xmx8g \
  -cp "$CP" graft.Verify "$SF" "$OUT" 2>/tmp/verify_stderr.log \
  || { tail -30 /tmp/verify_stderr.log; exit 1; }
grep -E "\[verify\]" /tmp/verify_stderr.log || true
python3 tools/compare_oracle.py "$OUT" "$SF"
