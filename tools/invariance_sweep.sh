#!/usr/bin/env bash
# Physical-layout invariance sweep: the full driver-faithful strict sweep
# re-run under execution configs that reshape every exchange in every
# plan. A registered query's output must be a pure function of the DATA —
# partition counts, AQE runtime re-planning and task layout must not
# affect any result (a branch that picks its path from the partition
# layout is a silent-corruption bug).
#
#   bash tools/invariance_sweep.sh                # check_strict's default sf dir
#   bash tools/invariance_sweep.sh DIR            # any sf dir
#
# Levers (mongodb_mysql_cdc_spark/session.py):
#   SPARK_GRAFT_CPUS       — local[N] worker threads AND default shuffle partitions
#   SPARK_GRAFT_EXTRA_CONF — "k=v;k=v" session conf, applied after the
#                            engine defaults so it wins (AQE off, codegen
#                            off, or the cluster-shape rehearsal:
#                            SPARK_GRAFT_EXTRA_CONF=spark.sql.shuffle.partitions=1024)
set -euo pipefail
cd "$(dirname "$0")/.."

echo "== invariance 1/4: default (local[cores], AQE on) =="
python tools/check_strict.py ${1:+--sf "$1"}

echo "== invariance 2/4: local[7], shuffle.partitions=7 =="
SPARK_GRAFT_CPUS=7 python tools/check_strict.py ${1:+--sf "$1"}

echo "== invariance 3/4: AQE off =="
SPARK_GRAFT_EXTRA_CONF="spark.sql.adaptive.enabled=false" python tools/check_strict.py ${1:+--sf "$1"}

echo "== invariance 4/4: interpreted path (codegen off, vectorized reader off) =="
SPARK_GRAFT_EXTRA_CONF="spark.sql.codegen.wholeStage=false;spark.sql.parquet.enableVectorizedReader=false" \
  python tools/check_strict.py ${1:+--sf "$1"}

echo "INVARIANCE SWEEP GREEN"
