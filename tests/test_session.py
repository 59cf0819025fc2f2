"""The worker-interpreter rule of ``session.get_spark``: Spark's Python
processes import the driver's compiled pyspark, not the source-only
``pyspark.zip``, and the decision keeps Spark's stock path whenever
that would not be safe."""

from __future__ import annotations

import os
import sys
import zipfile

from pyspark.sql import functions as F

from kafkastreamsproject_spark.session import WORKER_LAUNCHER, worker_launcher


def test_udf_task_imports_the_compiled_pyspark(spark):
    @F.udf("struct<file string, zip_on_path boolean>")
    def where(_):
        import sys

        import pyspark

        return pyspark.__file__, any("pyspark.zip" in p for p in sys.path)

    row = spark.range(1).select(where("id").alias("w")).first().w
    assert ".zip" not in row.file and row.file.endswith(os.path.join("pyspark", "__init__.py"))
    assert row.zip_on_path is False


def test_python_data_source_imports_the_compiled_pyspark(spark):
    from pyspark.sql.datasource import DataSource, DataSourceReader

    class WhereReader(DataSourceReader):
        def __init__(self):
            import pyspark

            self.planner = pyspark.__file__  # runs in the planner process

        def read(self, partition):
            import pyspark

            yield self.planner, pyspark.__file__

    class WhereSource(DataSource):
        @classmethod
        def name(cls):
            return "graft_where_pyspark"

        def schema(self):
            return "planner string, reader string"

        def reader(self, schema):
            return WhereReader()

    spark.dataSource.register(WhereSource)
    row = spark.read.format("graft_where_pyspark").load().first()
    assert ".zip" not in row.planner and ".zip" not in row.reader


def _spark_home_with_version(tmp_path, text: bytes) -> str:
    lib = tmp_path / "python" / "lib"
    lib.mkdir(parents=True)
    with zipfile.ZipFile(lib / "pyspark.zip", "w") as z:
        z.writestr("pyspark/version.py", text)
    return str(tmp_path)


def test_launcher_only_when_the_zip_matches_the_driver_and_master_is_local(tmp_path):
    import pyspark

    with open(os.path.join(os.path.dirname(pyspark.__file__), "version.py"), "rb") as f:
        own = f.read()
    same = _spark_home_with_version(tmp_path / "same", own)
    other = _spark_home_with_version(tmp_path / "other", b"__version__: str = '0.0.1'\n")
    env = {"PYSPARK_PYTHON": sys.executable}

    assert worker_launcher("local[4]", same, env) == WORKER_LAUNCHER
    assert worker_launcher("local", same, {}) == WORKER_LAUNCHER
    assert worker_launcher("local[4]", other, env) is None
    assert worker_launcher("local[4]", str(tmp_path / "none"), env) is None
    for master in ("spark://host:7077", "yarn", "local-cluster[2,1,1024]"):
        assert worker_launcher(master, same, env) is None


def test_launcher_not_named_for_another_interpreter(tmp_path):
    import pyspark

    with open(os.path.join(os.path.dirname(pyspark.__file__), "version.py"), "rb") as f:
        same = _spark_home_with_version(tmp_path, f.read())
    other = tmp_path / "python3"
    other.write_text("#!/bin/sh\necho /elsewhere/bin/python3\n")
    other.chmod(0o755)

    assert worker_launcher("local[4]", same, {"PYSPARK_PYTHON": str(other)}) is None
    assert worker_launcher("local[4]", same, {"PYSPARK_PYTHON": str(tmp_path / "absent")}) is None
