#!/usr/bin/env bash
# Pre-snapshot gate: NEVER create a "snapshot" / "close-out" commit without
# this script exiting 0 on the exact tree being committed.
#
# Rationale (round 5 post-mortem): the round-5 end-of-round snapshot was
# committed untested with a one-character syntax error; the driver's gate
# recorded zero working queries for the whole round even though the tree
# two commits earlier had a logged 126/126 sf1 oracle pass. This script
# makes that failure mode impossible: it compiles, runs graft.Verify on
# sf0.01, and runs the DuckDB oracle selfcheck — the same three steps the
# driver's official gate performs.
#
# Usage: tools/presnapshot.sh [sfDir]   (default /root/testdata/sf0.01)
#   Exit 0  -> safe to snapshot. Cite the run in the closing commit message.
#   Exit !=0 -> DO NOT COMMIT a snapshot; fix and re-run.
set -euo pipefail
cd "$(dirname "$0")/.."

SF_DIR="${1:-/root/testdata/sf0.01}"
OUT_DIR="$(mktemp -d /tmp/presnapshot.XXXXXX)"
trap 'rm -rf "$OUT_DIR"' EXIT

echo "[presnapshot] 1/7 session conf and class-loader policy live only in GraftSession, the serving rule only in SqlEndpoint"
# A conf.set on a session that other code plans on leaks into its
# concurrent queries (the SQL endpoint plans client queries on the
# engine's session). Plan with a different conf on GraftSession.fork.
# Allowed: GraftSession, the Spark bridge, and the constant nanos read
# setting of Tables.load and EventStreams.readEventStream.
conf_sets="$(grep -rnE 'conf\.(un)?set\(' src/main --include='*.scala' \
  | grep -vE '^src/main/scala/(graft/GraftSession|org/apache/spark/sql/graftbridge/[A-Za-z]+)\.scala:' \
  | grep -vE '^src/main/scala/graft/(Tables|streaming/EventStreams)\.scala:[0-9]+: *spark\.conf\.set\("spark\.sql\.legacy\.parquet\.nanosAsLong", "true"\)$' \
  || true)"
if [ -n "$conf_sets" ]; then
  echo "$conf_sets"
  echo "[presnapshot] SESSION CONF SET OUTSIDE GraftSession: plan on GraftSession.fork"
  exit 1
fi
# Every session shares one executor class loader, and so the code any
# session compiled (GraftSession.shareCompiledCode); a second owner of
# spark.sql.artifact.isolation.* could split them again.
isolation="$(grep -rn 'artifact\.isolation' src/main \
  | grep -vE '^src/main/scala/(graft/GraftSession|org/apache/spark/sql/graftbridge/[A-Za-z]+)\.scala:' \
  || true)"
if [ -n "$isolation" ]; then
  echo "$isolation"
  echo "[presnapshot] ARTIFACT ISOLATION OUTSIDE GraftSession: it owns the class-loader policy"
  exit 1
fi
# Only the sessions SqlEndpoint serves plan tiny inputs as one partition
# (SingleSplitPlans). Injected anywhere else, e.g. into the host
# session's extensions, which every later clone shares, the rule would
# reach the engine's own plans, and the plan shapes the suite pins would
# change with test order.
single_split="$(grep -rnE 'SingleSplitPlans|injectQueryPostPlannerStrategyRule' src/main --include='*.scala' \
  | grep -vE '^src/main/scala/(graft/server/SqlEndpoint|graft/plans/SingleSplitPlans|org/apache/spark/sql/graftbridge/[A-Za-z]+)\.scala:' \
  || true)"
if [ -n "$single_split" ]; then
  echo "$single_split"
  echo "[presnapshot] SingleSplitPlans OUTSIDE SqlEndpoint: it owns the serving scope"
  exit 1
fi

echo "[presnapshot] 2/7 sbt compile"
sbt -batch compile > "$OUT_DIR/compile.log" 2>&1 || {
  tail -30 "$OUT_DIR/compile.log"; echo "[presnapshot] COMPILE FAILED"; exit 1; }

echo "[presnapshot] 3/7 graft.Verify @ $SF_DIR"
sbt -batch "runMain graft.Verify $SF_DIR $OUT_DIR/verify" \
  > "$OUT_DIR/verify.log" 2>&1 || {
  tail -30 "$OUT_DIR/verify.log"; echo "[presnapshot] VERIFY FAILED"; exit 1; }

echo "[presnapshot] 4/7 gate completeness (round-6 post-mortem: a broken"
echo "              query must FAIL the gate, not silently shrink it)"
python3 - "$OUT_DIR/verify" <<'EOF'
import json, os, sys
out = sys.argv[1]
errs = json.load(open(os.path.join(out, "errors.json")))
if errs:
    for k, v in errs.items():
        print(f"[presnapshot] BROKEN QUERY {k}: {v[:200]}")
    sys.exit(1)
dumped = {d for d in os.listdir(out)
          if os.path.isdir(os.path.join(out, d))}
oracle = set(json.load(open(os.path.join(out, "oracle_sql.json"))))
missing = oracle - dumped
if missing:
    print(f"[presnapshot] {len(missing)} oracle queries missing from dump: "
          f"{sorted(missing)}")
    sys.exit(1)
print(f"[presnapshot] {len(dumped)} queries dumped, 0 errors")
EOF

echo "[presnapshot] 5/7 DuckDB oracle selfcheck"
python3 tools/selfcheck.py "$SF_DIR" "$OUT_DIR/verify" | tail -5

echo "[presnapshot] 6/7 staged oracles of the lsh/graph/pairs/spans families @ $SF_DIR"
# The staged path is otherwise run only at the sf30+ rungs; run every
# family here so it cannot rot between rung rounds.
sbt -batch "runMain graft.StagedVerify all $SF_DIR $OUT_DIR/staged" \
  > "$OUT_DIR/staged.log" 2>&1 || {
  tail -30 "$OUT_DIR/staged.log"; echo "[presnapshot] STAGED EXPORT FAILED"; exit 1; }
python3 tools/stagedcheck.py all "$SF_DIR" "$OUT_DIR/staged" || {
  echo "[presnapshot] STAGED CHECK FAILED"; exit 1; }

echo "[presnapshot] 7/7 sbt test (full suite — must exit 0)"
sbt -batch test > "$OUT_DIR/test.log" 2>&1 || {
  grep -E "TESTS FAILED|\*\*\* FAILED|Error" "$OUT_DIR/test.log" | tail -20
  echo "[presnapshot] SBT TEST FAILED"; exit 1; }
grep -E "Tests: succeeded" "$OUT_DIR/test.log" | tail -1

echo "[presnapshot] GATE GREEN — safe to snapshot ($(git rev-parse --short HEAD) + working tree)"
