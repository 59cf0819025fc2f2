#!/bin/sh
# Worker interpreter of a local SparkSession (session.py, "worker
# interpreter"): drop Spark's source-only pyspark.zip from PYTHONPATH, so
# the process imports the driver's own, compiled pyspark, then run the
# driver's interpreter, which get_spark names in _SPARK_GRAFT_PYTHON.
set -f
path=
IFS=:
for entry in $PYTHONPATH; do
    case $entry in
        pyspark.zip | */pyspark.zip) ;;
        *) path=${path:+$path:}$entry ;;
    esac
done
unset IFS
PYTHONPATH=$path
export PYTHONPATH
exec "${_SPARK_GRAFT_PYTHON:?is set by kafkastreamsproject_spark.session.get_spark}" "$@"
