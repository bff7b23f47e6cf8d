#!/usr/bin/env bash
# Crash-injection rung for the incremental wave loop (r19 verdict
# ask #4): kill -9 the JVM mid-wave at several points, rerun the SAME
# command to completion, and census the output tree against a
# straight-through control run — zero loss, zero duplicates, zero
# orphaned temps, byte-identical decompressed payloads.
#
# The unit crash specs cover the rename protocol and the ledger each
# in isolation; this is the composed, PROCESS-level version: the
# wave loop's anti-join resume + TtlFileSink's temp+rename + the
# startup temp sweep, under real SIGKILL.
#
# Each kill's delay counts from the first .ttl.gz that its crash run
# writes, not from launch: JVM and Spark start-up take tens of seconds,
# and a kill before the first wave commits tests no resume.
#
# usage: tools/crash_rig.sh [nMarks] [nAnalyses] [nWaves] [delays_csv]
# SPARK_GRAFT_CPUS (default 32) and RIG_HEAP (default 24g) size the JVMs.
set -u
cd "$(dirname "$0")/.."

N_MARKS=${1:-2000000}
N_ANALYSES=${2:-40}
N_WAVES=${3:-8}
DELAYS=${4:-3,6,9}
CPUS=${SPARK_GRAFT_CPUS:-32}
HEAP=${RIG_HEAP:-24g}

CP="target/scala-2.13/classes:$(ls /opt/spark/jars/*.jar | tr '\n' ':')"
OPENS=$(grep -o '\-\-add-opens=[^ "]*' tools/verify_local.sh | tr '\n' ' ')
BASE=$(mktemp -d /tmp/crash_rig.XXXX)
echo "rig dir: $BASE  (marks=$N_MARKS analyses=$N_ANALYSES waves=$N_WAVES cpus=$CPUS" \
  "kills ${DELAYS}s after each crash run's first new file)"

run() { # outDir ledgerDir logFile
  SPARK_GRAFT_CPUS=$CPUS java $OPENS -Xmx$HEAP -cp "$CP" \
    graft.EtlBench "$N_MARKS" "$N_ANALYSES" "$1" "$2" "$N_WAVES" \
    >"$3" 2>/dev/null
}

outputs() { # outDir — committed .ttl.gz files
  find "$1" -name '*.ttl.gz' 2>/dev/null | wc -l
}

state() { # label outDir ledgerDir — progress snapshot after a kill
  local files temps batches
  files=$(outputs "$2")
  temps=$(find "$2" -regextype posix-extended -regex '.*\.tmp-[0-9a-f]{8}$' 2>/dev/null | wc -l)
  batches=$(find "$3" -maxdepth 1 -mindepth 1 -type d 2>/dev/null | wc -l)
  echo "$1: files=$files orphaned_temps=$temps ledger_dirs=$batches"
}

echo "== control (straight through)"
run "$BASE/control" "$BASE/ledger_control" "$BASE/control.log"
grep -o '{.*}' "$BASE/control.log" | tail -1

echo "== crash arm"
IFS=, read -ra KILLS <<<"$DELAYS"
k=0
for d in "${KILLS[@]}"; do
  k=$((k + 1))
  before=$(outputs "$BASE/crash")
  run "$BASE/crash" "$BASE/ledger_crash" "$BASE/crash_$k.log" &
  pid=$!
  t0=$SECONDS
  while kill -0 "$pid" 2>/dev/null && [ "$(outputs "$BASE/crash")" -le "$before" ]; do
    sleep 0.2
  done
  echo "kill #$k: first new file $((SECONDS - t0))s after launch"
  sleep "$d"
  # $! is the subshell running run(), whose child is the JVM: SIGKILL
  # the JVM too, or the "killed" run keeps writing under the next one
  if kill -0 "$pid" 2>/dev/null; then
    pkill -9 -P "$pid" 2>/dev/null
    kill -9 "$pid" 2>/dev/null
    wait "$pid" 2>/dev/null
    state "kill #$k ${d}s after it" "$BASE/crash" "$BASE/ledger_crash"
  else
    wait "$pid" 2>/dev/null
    echo "kill #$k ${d}s after it: run already finished (increase nMarks or shorten delays)"
  fi
done
echo "-- final rerun to completion"
run "$BASE/crash" "$BASE/ledger_crash" "$BASE/crash_final.log"
grep -o '{.*}' "$BASE/crash_final.log" | tail -1

echo "== census: crash tree vs control tree"
python3 - "$BASE/control" "$BASE/crash" <<'EOF'
import gzip, hashlib, os, re, sys

def census(root):
    out = {}
    temps = 0
    for dirpath, _, files in os.walk(root):
        for f in files:
            p = os.path.join(dirpath, f)
            rel = os.path.relpath(p, root)
            if re.search(r"\.tmp-[0-9a-f]{8}$", f):
                temps += 1
            elif f.endswith(".ttl.gz"):
                with gzip.open(p, "rb") as fh:
                    out[rel] = hashlib.sha256(fh.read()).hexdigest()
    return out, temps

a, ta = census(sys.argv[1])
b, tb = census(sys.argv[2])
missing = sorted(set(a) - set(b))
extra = sorted(set(b) - set(a))
diff = sorted(k for k in a.keys() & b.keys() if a[k] != b[k])
print(f"control: {len(a)} files, {ta} temps")
print(f"crash:   {len(b)} files, {tb} temps")
print(f"missing={len(missing)} extra={len(extra)} "
      f"content_diff={len(diff)} crash_temps={tb}")
for name, lst in (("missing", missing), ("extra", extra),
                  ("content_diff", diff)):
    for x in lst[:5]:
        print(f"  {name}: {x}")
ok = not missing and not extra and not diff and tb == 0
print("CENSUS " + ("EXACT-MATCH" if ok else "MISMATCH"))
sys.exit(0 if ok else 1)
EOF
rc=$?
echo "rig dir kept at $BASE (logs + trees)"
exit $rc
