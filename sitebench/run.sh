#!/usr/bin/env bash
# Pin the measurement environment, then run one benchmark workload.
#   bash sitebench/run.sh --workload <name> --seed <n> --seconds <s> --trace <0|1>
# Run from the repository root (any checkout of it).
set -euo pipefail
root="$(cd "$(dirname "${BASH_SOURCE[0]}")/.." && pwd)"
cd "$root"
# one Spark core per host core (get_spark defaults to local[32])
export SPARK_GRAFT_CPUS="$(env -u OMP_NUM_THREADS nproc)"
# below physical RAM (the get_spark default is 16g); a fixed-size heap whose
# pages are all touched at start, so peak resident memory follows neither the
# heap's grow-and-shrink policy nor how much of it a run's garbage reached
export SPARK_DRIVER_MEMORY=2g
# shuffle and spill files, and every temporary file of Python and the JVM
# (gateway handshake, extracted native libraries), stay inside the checkout
export SPARK_LOCAL_DIRS="$root/.sitebench_work/spark-local"
export TMPDIR="$root/.sitebench_work/tmp"
mkdir -p "$SPARK_LOCAL_DIRS" "$TMPDIR"
export PYSPARK_SUBMIT_ARGS="--conf 'spark.driver.defaultJavaOptions=-Xms2g -XX:+AlwaysPreTouch -Djava.io.tmpdir=$TMPDIR' pyspark-shell"
# Python workers import the package from the checkout
export PYTHONPATH="$root${PYTHONPATH:+:$PYTHONPATH}"
# the same set-iteration order, so plans and their job counts, in every run
export PYTHONHASHSEED=0
export SITEBENCH_T0="$(date +%s.%N)"
exec python3 "$root/sitebench/run.py" "$@"
