#!/bin/bash
# Regenerate the deterministic ScaleUp rungs (fresh box each round):
# sf1 = sf0.1 x10, sf10 = sf1 x10, sf30 = sf10 x3, sf100 = sf10 x10.
set -eu
cd "$(dirname "$0")/.."
run() { sbt -batch "runMain graft.ScaleUp $1 $2 $3" 2>&1 | grep -E "\[scaleup\]|error" || true; }
[ -d /root/sf1/lineitem.parquet ]  || run /root/testdata/sf0.1 /root/sf1 10
[ -d /root/sf10/lineitem.parquet ] || run /root/sf1 /root/sf10 10
[ -d /root/sf30/lineitem.parquet ] || run /root/sf10 /root/sf30 3
[ -d /root/sf100/lineitem.parquet ] || run /root/sf10 /root/sf100 10
du -sh /root/sf1 /root/sf10 /root/sf30 /root/sf100 2>/dev/null
