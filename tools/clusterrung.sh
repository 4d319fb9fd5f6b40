#!/bin/bash
# Local-cluster PERF rung: times ROWS at sf10 under real executor JVMs
# (local-cluster[4,8,6144]: Netty shuffle + torrent broadcast) next to a
# same-day local[32] twin of the identical tree. Correctness parity
# across process boundaries is tools/streamcluster.sh's job; this
# measures TIMING. A plan secretly depending on local-mode shared
# memory shows as a >2x cluster/local gap, and any such row (or a row
# missing from the cluster run) fails the rung.
#
# usage: ROWS=q130_pagerank,q132_personalized_pagerank tools/clusterrung.sh
set -u
cd "$(dirname "$0")/.."
ROWS=${ROWS:?set ROWS to a comma-separated list of registry rows}
JAR=target/scala-2.13/avkjobskillanalyticsspark_2.13-0.1.0.jar

echo "== local[32] twin =="
SPARK_GRAFT_SF_DIR=/root/sf10 SPARK_GRAFT_CPUS=32 SPARK_DRIVER_MEM=24g \
  SPARK_GRAFT_ONLY=$ROWS \
  SPARK_GRAFT_BENCH_OUT=bench_history/clusterrung_sf10_local.json \
  sbt -batch "runMain graft.Bench" 2>/dev/null | grep metric

echo "== local-cluster[4,8,6144] =="
SPARK_GRAFT_SF_DIR=/root/sf10 SPARK_GRAFT_CPUS=32 SPARK_DRIVER_MEM=24g \
  SPARK_GRAFT_ONLY=$ROWS \
  SPARK_HOME=/opt/spark SPARK_SCALA_VERSION=2.13 \
  SPARK_GRAFT_MASTER=local-cluster[4,8,6144] SPARK_GRAFT_JARS=$JAR \
  SPARK_GRAFT_EXEC_MEM=6g \
  SPARK_GRAFT_BENCH_OUT=bench_history/clusterrung_sf10_cluster.json \
  sbt -batch "runMain graft.Bench" 2>/dev/null | grep metric

echo "== per-query cluster/local ratios =="
python3 - <<'EOF'
import json
loc = json.load(open("bench_history/clusterrung_sf10_local.json"))
clu = json.load(open("bench_history/clusterrung_sf10_cluster.json"))
bad = 0
for k in sorted(loc["queries"]):
    l, c = loc["queries"][k], clu["queries"].get(k)
    if c is None:
        print(f"{k}: MISSING in cluster run"); bad += 1; continue
    r = c / l
    flag = " <-- >2x" if r > 2.0 else ""
    if r > 2.0: bad += 1
    print(f"{k}: local {l:.1f}s cluster {c:.1f}s ratio {r:.2f}{flag}")
print("RESULT:", "FAIL (>2x rows above)" if bad else "PASS (no query >2x local)")
EOF
