#!/usr/bin/env bash
# Round-end evidence gate, one command: compile → FREEZE the classes →
# two-scale oracle correctness (sf0.01 + sf0.1) → layout-determinism →
# the same under reliable pins → registry-freshness. Produces
# CORRECTNESS_TWOSCALE.json and DETERMINISM.json in the repo root and
# exits nonzero if ANY piece fails,
# so a round can't ship with stale or partial gate evidence.
#
# The gate JVMs run against a frozen copy of target/scala-2.13/classes
# (sbt compile during a multi-hour run rewrites class files under a
# lazy-loading JVM — observed NoClassDefFoundError mid-run), so source
# edits AND compiles are safe while this runs.
#
# Usage: tools/gate.sh            # full gate
#        SKIP_SF01=1 tools/gate.sh  # sf0.01-only (quick pre-commit)
set -uo pipefail
cd "$(dirname "$0")/.."

sbt -batch compile || exit 1

frozen=$(mktemp -d)/classes
cp -r target/scala-2.13/classes "$frozen"
CP="$frozen:/opt/spark/jars/*"
JAVA=(java -cp "$CP" @tools/add_opens.args -Xmx48g
  -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC)

tmp=$(mktemp -d)
fail=0

scales=(0.01)
[ "${SKIP_SF01:-}" = "" ] && scales=(0.01 0.1)

for sf in "${scales[@]}"; do
  echo "=== verify sf$sf ==="
  SPARK_GRAFT_CPUS="${SPARK_GRAFT_CPUS:-16}" \
    "${JAVA[@]}" graft.Verify "/root/testdata/sf$sf" "$tmp/verify_$sf" \
    > "$tmp/verify_$sf.log" 2>&1 || { echo "Verify sf$sf FAILED"; tail -20 "$tmp/verify_$sf.log"; fail=1; }
  GRAFT_ENFORCE_TEST_COUNTS=1 \
  python3 tools/selfcheck.py "/root/testdata/sf$sf" "$tmp/verify_$sf" \
    --json="$tmp/report_$sf.json" || { echo "selfcheck sf$sf reported failures"; fail=1; }
done

if [ ${#scales[@]} -eq 2 ]; then
  python3 - "$tmp" CORRECTNESS_TWOSCALE.json <<'EOF' || fail=1
import json, sys
tmp, out = sys.argv[1], sys.argv[2]
merged = {f"sf{sf}": json.load(open(f"{tmp}/report_{sf}.json")) for sf in ("0.01", "0.1")}
json.dump(merged, open(out, "w"), indent=1)
print(f"wrote {out}")
EOF
fi

echo "=== determinism (sf0.01, shuffle-partitions 5 vs 32) ==="
SPARK_GRAFT_CPUS="${SPARK_GRAFT_CPUS:-16}" \
  "${JAVA[@]}" graft.Determinism /root/testdata/sf0.01 DETERMINISM.json \
  2> "$tmp/det.log" | tail -2 || { echo "determinism FAILED"; tail -20 "$tmp/det.log"; fail=1; }

echo "=== determinism under reliable pins (sf0.01, spark.checkpoint.dir set) ==="
# with a context checkpoint directory every Pin.pin writes a reliable
# checkpoint instead of a local one; no query's (rows, hash) at either
# layout may differ from the default run above
SPARK_GRAFT_CPUS="${SPARK_GRAFT_CPUS:-16}" \
  "${JAVA[@]}" -Dspark.checkpoint.dir="$tmp/ckpt" \
  graft.Determinism /root/testdata/sf0.01 "$tmp/det_reliable.json" \
  2> "$tmp/det_reliable.log" | tail -2 || { echo "reliable determinism FAILED"; tail -20 "$tmp/det_reliable.log"; fail=1; }
python3 - DETERMINISM.json "$tmp/det_reliable.json" "$tmp/ckpt" <<'EOF' || fail=1
import json, os, sys
local, reliable = (json.load(open(p)) for p in sys.argv[1:3])
bad = [q for q in sorted(set(local) | set(reliable))
       if any(local.get(q, {}).get(k) != reliable.get(q, {}).get(k) for k in ("p5", "p32"))]
rdds = sum(d.startswith("rdd-") for _, ds, _ in os.walk(sys.argv[3]) for d in ds)
print(f"reliable pins: {rdds} checkpointed RDDs; {len(local) - len(bad)}/{len(local)} queries equal to the default run")
for q in bad:
    print(f"  {q}: default {local.get(q)} reliable {reliable.get(q)}")
sys.exit(0 if rdds > 0 and not bad else 1)
EOF
rm -rf "$tmp/ckpt"

echo "=== registry freshness ==="
# every registered query must have been dumped by Verify (a query that
# throws at build time leaves no parquet → the selfcheck above reds it;
# this guards the complementary staleness: a gate run against old classes)
# oracle_sql.json is one JSON line → count name matches, not lines;
# Verify writes each query's parquet as a bare `q<name>` directory
n_reg=$(python3 -c 'import json,sys; print(len(json.load(open(sys.argv[1]))))' \
  "$tmp/verify_0.01/oracle_sql.json" 2>/dev/null) \
  || { echo "oracle_sql.json missing/unparseable"; fail=1; n_reg=0; }
n_dump=$(ls -d "$tmp"/verify_0.01/q* 2>/dev/null | wc -l)
echo "oracles declared: $n_reg, results dumped: $n_dump"
[ "$n_reg" -gt 0 ] && [ "$n_dump" -ge "$n_reg" ] \
  || { echo "STALE/PARTIAL registry dump"; fail=1; }

echo "=== two-scale coverage vs registry ==="
# round-9 verdict gate hole: queries registered after the last full gate
# run ship with a TWOSCALE artifact that silently trails the registry
# (q360/q361 precedent). Red when the artifact ABOUT TO BE COMMITTED —
# the fresh one in full mode, the previously-committed one in SKIP_SF01
# mode — covers fewer queries at ANY scale than the registry declares.
python3 - "$n_reg" <<'EOF' || { echo "TWOSCALE artifact trails registry"; fail=1; }
import json, sys
n_reg = int(sys.argv[1])
ts = json.load(open("CORRECTNESS_TWOSCALE.json"))
ok = True
for sf, rep in ts.items():
    qs = rep["queries"] if isinstance(rep, dict) and "queries" in rep else rep
    n = len(qs)
    print(f"{sf}: {n} queries in artifact vs {n_reg} registered")
    if n < n_reg:
        ok = False
sys.exit(0 if ok and len(ts) == 2 else 1)
EOF

echo "=== codegen bailouts ==="
# the q296 class of failure: a plan that prints WholeStageCodegen but
# EXECUTES interpreted (Janino failure / hugeMethodLimit / expression
# fallback). Verify names every such query in codegen_bailouts.json;
# the healthy state is {} at every verified scale.
for sf in "${scales[@]}"; do
  bj="$tmp/verify_$sf/codegen_bailouts.json"
  if [ ! -f "$bj" ]; then
    echo "sf$sf: codegen_bailouts.json missing"; fail=1
  elif [ "$(cat "$bj")" != "{}" ]; then
    echo "sf$sf: CODEGEN BAILOUTS: $(cat "$bj")"; fail=1
  else
    echo "sf$sf: no bailouts"
  fi
done

echo "=== round artifacts committed ==="
# a round must not end with its evidence sitting untracked/modified in
# the work tree (round-8 verdict item 7): stage + commit the driver/gate
# artifacts and the bench_history snapshot if anything changed
git add -A CORRECTNESS_TWOSCALE.json DETERMINISM.json BENCH_RESULT.json \
  BENCH_LOCAL.json LEAKCHECK.json bench_history BENCH_r*.json \
  CORRECTNESS_r*.json 2>/dev/null
if ! git diff --cached --quiet 2>/dev/null; then
  git commit -m "Commit round gate/driver artifacts" -q \
    && echo "committed updated artifacts" \
    || { echo "artifact commit FAILED"; fail=1; }
else
  echo "artifacts already committed"
fi

[ $fail -eq 0 ] && echo "GATE GREEN" || echo "GATE RED"
exit $fail
