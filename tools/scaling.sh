#!/bin/bash
# N vs 4N scaling gate (north rule: throughput efficiency >= 0.8 from N to 4N
# executors). Runs `graft.ScalingBench run` at N, then 4N cores, twice over,
# each level in a fresh spark-submit JVM with two timed reps, and prints
# ScalingBench's JSON line per rep with the level's core count prepended.
#
#   sbt package
#   spark-submit --class graft.ScalingBench <jar> gen CORPUS 2000 10000
#   tools/scaling.sh CORPUS [MASTER] [N]
#
# MASTER `local` (default) runs local[N] and local[4N]. spark://host:port runs
# one and then four N-core executors (1 GB each) on a standalone cluster, for
# example one worker on this machine:
#
#   export SPARK_LOCAL_IP=127.0.0.1
#   $SPARK_HOME/sbin/start-master.sh -h 127.0.0.1 -p 7077
#   SPARK_WORKER_DIR=/dev/shm/spark-worker $SPARK_HOME/sbin/start-worker.sh \
#     spark://127.0.0.1:7077 -c $((4 * N)) -m $((4 * N))g
#   tools/scaling.sh CORPUS spark://127.0.0.1:7077 N
#   $SPARK_HOME/sbin/stop-worker.sh; $SPARK_HOME/sbin/stop-master.sh
#
# The memory settings were sized on the 30k-turn corpus above; larger
# corpora need larger ones. N defaults to 1.
set -euo pipefail
corpus=$1 master=${2:-local} n=${3:-1}
jar=$(dirname "$0")/../target/scala-2.13/reachspark_2.13-0.1.0.jar
# shuffle and cache spill on tmpfs: a throttled virtual disk would otherwise
# turn the comparison into one of disk write-back, not of compute
local_dir=/dev/shm/graft-spark-local
log=$(mktemp)
trap 'rm -rf "$log" "$local_dir"' EXIT

for _ in 1 2; do
  for cores in "$n" $((4 * n)); do
    if [ "$master" = local ]; then
      where=(--master "local[$cores]" --driver-memory 4g)
    else
      where=(--master "$master" --driver-memory 2g
             --conf spark.cores.max="$cores" --conf spark.executor.cores="$n"
             --conf spark.executor.memory=1g)
    fi
    rm -rf "$local_dir"
    mkdir -p "$local_dir"
    if ! spark-submit "${where[@]}" --class graft.ScalingBench \
        --conf spark.sql.shuffle.partitions=32 \
        --conf spark.sql.files.maxPartitionBytes=4m \
        --conf spark.local.dir="$local_dir" \
        "$jar" run "$corpus" 2 2>"$log" |
        grep '"rep"' | sed "s/^{/{\"cores\":$cores,/"; then
      tail -n 30 "$log" >&2
      exit 1
    fi
  done
done
