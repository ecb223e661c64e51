#!/bin/bash
# North-rule literal evidence: the packaged artifact via
#   spark-submit --py-files dist/osmzen_spark.zip
# on a multi-executor master at two cluster sizes (default 1 vs 4
# executor JVMs x 4 cores), same input. Mirrors bench.py --scaling's
# local-cluster configuration (liveness timeouts stretched past this
# host's hypervisor-steal bursts; fresh python workers per task —
# the pooled-worker hand-off deadlock documented in bench.py).
#
# ARMS overrides the pair, ';'-separated "master:shuffle_partitions"
# entries. The low-thread pair
#   ARMS='local-cluster[1,2,18432]:2;local-cluster[4,2,18432]:8' REPLICATE=16
# keeps BOTH arms far below this box's memory-bandwidth/SMT ceiling,
# isolating the executors-added variable from the shared-silicon
# confound (one host serving all "machines") that inflates per-task
# CPU time ~1.6x when 16 threads run — see BASELINE.md Scaling.
set -u
cd "$(dirname "$0")/.."
python scripts/package.py

SF_DIR=${SF_DIR:-/root/testdata/sf0.1}
REPLICATE=${REPLICATE:-32}
ARMS=${ARMS:-"local-cluster[1,4,18432]:4;local-cluster[4,4,18432]:16"}
export SPARK_LOCAL_IP=127.0.0.1

COMMON=(
  --conf spark.ui.enabled=false
  --conf spark.driver.memory=12g
  --conf spark.executor.memory=16g
  --conf spark.sql.adaptive.enabled=true
  --conf spark.sql.adaptive.coalescePartitions.enabled=true
  --conf spark.sql.adaptive.skewJoin.enabled=true
  --conf spark.sql.execution.arrow.pyspark.enabled=true
  --conf spark.sql.session.timeZone=UTC
  --conf spark.sql.codegen.maxFields=400
  --conf spark.sql.execution.arrow.maxRecordsPerBatch=10000
  --conf spark.sql.autoBroadcastJoinThreshold=67108864
  --conf spark.sql.constraintPropagation.enabled=false
  --conf spark.python.worker.reuse=false
  --conf spark.speculation=true
  --conf spark.speculation.interval=5s
  --conf spark.speculation.multiplier=4
  --conf spark.speculation.quantile=0.9
  --conf spark.network.timeout=600s
  --conf spark.rpc.askTimeout=600s
  --conf spark.executor.heartbeatInterval=30s
  --conf spark.worker.timeout=600
  --conf spark.storage.blockManagerHeartbeatTimeoutMs=600000
)

IFS=';' read -ra ARM_LIST <<< "$ARMS"
for ARM in "${ARM_LIST[@]}"; do
  MASTER=${ARM%:*}
  CORES=${ARM##*:}
  echo "=== arm $MASTER (shuffle partitions $CORES) ===" >&2
  /opt/spark/bin/spark-submit \
    --master "$MASTER" \
    "${COMMON[@]}" \
    --conf "spark.sql.shuffle.partitions=$CORES" \
    --py-files dist/osmzen_spark.zip \
    scripts/submit_flagship.py --sf-dir "$SF_DIR" --replicate "$REPLICATE"
  sleep 30
done
