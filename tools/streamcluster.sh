#!/bin/bash
# Round-14 verdict #2: the WHOLE streaming family (16 registered stream
# twins) dump-compared between local[32] and real executor JVMs
# (local-cluster[4,4,4096]) at sf0.1 — batch= Overwrite partials,
# bucket-pruned probes, and store consolidation across process
# boundaries. SPARK_HOME/SPARK_SCALA_VERSION let the standalone
# worker's launcher build executor commands from the /opt/spark
# distribution.
set -u
cd "$(dirname "$0")/.."
STREAMS=q57_events_hourly_stream,q80_events_segment_stream,q95_stream_quality_gate,q101_span_dedup_stream,q104_corpus_prep_stream,q109_cms_stream,q111_ivf_stream,q122_bigram_lm_stream,q123_kmv_users_stream,q125_hll_stream,q129_minhash_dedup_stream,q134_incremental_cc_stream,q138_nb_stream,q142_dsir_stream,q146_mixture_stream,q158_yield_stream
SF=/root/testdata/sf0.1
JAR=target/scala-2.13/avkjobskillanalyticsspark_2.13-0.1.0.jar
if [ ! -d /tmp/streams_local ]; then
  echo "== local[32] pass =="
  SPARK_GRAFT_ONLY=$STREAMS SPARK_GRAFT_CPUS=32 \
    sbt -batch "runMain graft.Verify $SF /tmp/streams_local" 2>&1 | grep "\[verify\]" || true
fi
echo "errors.json (local): $(cat /tmp/streams_local/errors.json)"
echo "== local-cluster[4,4,4096] pass =="
rm -rf /tmp/streams_cluster
SPARK_GRAFT_ONLY=$STREAMS SPARK_GRAFT_CPUS=16 \
  SPARK_HOME=/opt/spark SPARK_SCALA_VERSION=2.13 \
  SPARK_GRAFT_MASTER=local-cluster[4,4,4096] SPARK_GRAFT_JARS=$JAR \
  SPARK_GRAFT_EXEC_MEM=4g \
  sbt -batch "runMain graft.Verify $SF /tmp/streams_cluster" 2>&1 | grep "\[verify\]" || true
echo "errors.json (cluster): $(cat /tmp/streams_cluster/errors.json)"
echo "== dumpcmp =="
python3 tools/dumpcmp.py /tmp/streams_local /tmp/streams_cluster
