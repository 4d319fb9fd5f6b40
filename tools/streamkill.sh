#!/bin/bash
# Executor-SIGKILL injection for every staged micro-batch stream (the
# MicroBatchFold harness rows; q158 reuses q134's stream). Verify runs
# the streams at sf0.1 under local-cluster[4,4,4096] — real executor
# JVMs, real Netty shuffle — while a killer loop SIGKILLs a random
# CoarseGrainedExecutorBackend every KILL_EVERY seconds. Spark's task
# retry + stage resubmission and the streams' batch=-keyed Overwrite
# partials must absorb every kill, including a kill that lands with
# only some of a batch's overlapped sinks (Sinks.inParallel) committed.
# The killed run is then checked two ways:
#   (1) tools/selfcheck.py: every dump hash-equal to its DuckDB batch
#       oracle;
#   (2) tools/dumpcmp.py: bit-equal to an uninterrupted local[32] run
#       of the same tree.
# SPARK_HOME must point at a Spark distribution: the standalone
# worker's launcher builds executor commands from it.
#
# usage: SF=<sf0.1 fixture dir> SPARK_HOME=<spark dist> tools/streamkill.sh
set -u
cd "$(dirname "$0")/.."
STREAMS=q101_span_dedup_stream,q104_corpus_prep_stream,q109_cms_stream,q111_ivf_stream,q122_bigram_lm_stream,q125_hll_stream,q129_minhash_dedup_stream,q134_incremental_cc_stream,q138_nb_stream,q142_dsir_stream,q146_mixture_stream,q179_url_frontier_stream,q182_warc_ingest_stream
SF=${SF:?set SF to the sf0.1 fixture directory}
SPARK_HOME=${SPARK_HOME:?set SPARK_HOME to a Spark distribution}
JAR=target/scala-2.13/avkjobskillanalyticsspark_2.13-0.1.0.jar
KILL_EVERY=${KILL_EVERY:-12}
OUT=${OUT:-/tmp/killrun}
REF=${REF:-/tmp/killref}

if [ ! -d "$REF" ]; then
  echo "== uninterrupted local[32] reference =="
  SPARK_GRAFT_ONLY=$STREAMS SPARK_GRAFT_CPUS=32 \
    sbt -batch "runMain graft.Verify $SF $REF" 2>&1 | grep "\[verify\]" || true
fi
echo "errors.json (ref): $(cat "$REF"/errors.json)"

echo "== local-cluster[4,4,4096] run with executor kills every ${KILL_EVERY}s =="
rm -rf "$OUT"
SPARK_GRAFT_ONLY=$STREAMS SPARK_GRAFT_CPUS=16 \
  SPARK_HOME=$SPARK_HOME SPARK_SCALA_VERSION=2.13 \
  SPARK_GRAFT_MASTER=local-cluster[4,4,4096] SPARK_GRAFT_JARS=$JAR \
  SPARK_GRAFT_EXEC_MEM=4g \
  sbt -batch "runMain graft.Verify $SF $OUT" 2>&1 | grep "\[verify\]" &
SBT_PID=$!

NKILLS=0
# give the app time to come up before the first kill, then keep killing
# until the verify run exits
sleep 45
while kill -0 $SBT_PID 2>/dev/null; do
  VICTIM=$(pgrep -f CoarseGrainedExecutorBackend | shuf -n 1 || true)
  if [ -n "${VICTIM:-}" ]; then
    NKILLS=$((NKILLS + 1))
    echo "[kill $NKILLS] $(date +%H:%M:%S) SIGKILL executor pid $VICTIM"
    kill -9 "$VICTIM" 2>/dev/null || true
  fi
  for _ in $(seq "$KILL_EVERY"); do
    kill -0 $SBT_PID 2>/dev/null || break
    sleep 1
  done
done
wait $SBT_PID
echo "total kills: $NKILLS"
echo "errors.json (killrun): $(cat "$OUT"/errors.json)"

echo "== (1) DuckDB batch-oracle check of the killed run =="
python3 tools/selfcheck.py "$SF" "$OUT"
echo "== (2) dumpcmp vs uninterrupted local[32] =="
python3 tools/dumpcmp.py "$REF" "$OUT"
