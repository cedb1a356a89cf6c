"""The fixed workload the driver JVM's class-data archive is dumped from.

``python cds_exercise.py <archive>``, with the checkout on ``PYTHONPATH``
(``session._dump_archive`` runs it so).  It launches the driver JVM
through ``session.get_spark``, with the classpath and flags of every
launch, ``-XX:ArchiveClassesAtExit=<archive>`` in place of the archive
option (``session._archive_option``, so nothing re-enters the build); runs
a few rows, in a private temp dir, through the paths a session starts
with (an aggregate, a join and a window query, a parquet write and
read, one ``AvailableNow`` stream into each sink) so that their classes
load; then stops the JVM and waits for it to exit, which is when the
JVM writes the archive.  The last stdout line is a JSON object with the
JVM's java home, input arguments and class path, for the archive's
``-Xshare:on`` check.
"""

from __future__ import annotations

import json
import os
import sys
import tempfile


def exercise(spark, work: str) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from data_engineering_assessment_spark.sources import parquet_io
    from data_engineering_assessment_spark.streaming import sinks, windows

    orders = spark.createDataFrame(
        [(i, i % 5, float(i)) for i in range(50)], "id long, cust long, amount double"
    )
    custs = spark.createDataFrame([(i, f"c{i}") for i in range(5)], "cust long, name string")
    orders.createOrReplaceTempView("orders")
    spark.sql("SELECT cust, sum(amount), count(*) FROM orders GROUP BY cust HAVING count(*) > 1").toPandas()
    orders.join(custs, "cust").groupBy("name").agg(F.avg("amount")).collect()
    rank = F.row_number().over(Window.partitionBy("cust").orderBy(F.desc("amount")))
    orders.withColumn("rank", rank).where("rank = 1").collect()
    out = parquet_io.write_parquet(orders, os.path.join(work, "orders"))
    spark.read.parquet(out).where("cust = 1").agg(F.max("id")).collect()

    landing = os.path.join(work, "landing")
    os.makedirs(landing)
    pq.write_table(pa.table({
        "event_id": pa.array(range(100), pa.int64()),
        "ts": pa.array([1709251200 + 30 * i for i in range(100)], pa.timestamp("us")),
        "user_id": pa.array([i % 7 for i in range(100)], pa.int64()),
        "event_type": ["view", "click"] * 50,
        "value": [1.5] * 100,
        "props": ["{}"] * 100,
    }), os.path.join(landing, "batch-00000.parquet"))
    sinks.start_upsert_sink(
        windows.tumbling_counts(windows.read_event_stream(spark, landing)),
        os.path.join(work, "counts"), ["window_start", "event_type"],
        checkpoint=os.path.join(work, "ckpt_counts"),
    ).awaitTermination()
    sinks.start_tablelog_sink(
        windows.stream_dedup(windows.read_event_stream(spark, landing)),
        os.path.join(work, "dedup"), checkpoint=os.path.join(work, "ckpt_dedup"),
    ).awaitTermination()


def main(archive: str) -> None:
    from pyspark import SparkContext

    from data_engineering_assessment_spark import session
    from data_engineering_assessment_spark.sources import layout

    home = os.getcwd()
    with tempfile.TemporaryDirectory(prefix="spark-graft-cds-") as work:
        os.chdir(work)  # the session's spark-warehouse lands here
        layout.SCRATCH_ROOT = os.path.join(work, "scratch")
        session._archive_option = lambda jar: f"-XX:ArchiveClassesAtExit={archive}"
        spark = session.get_spark(app_name="spark-graft-cds", cpus=2, shuffle_partitions=2)
        system = spark._jvm.java.lang.System
        jvm = {
            "java_home": system.getProperty("java.home"),
            "args": list(spark._jvm.java.lang.management.ManagementFactory.getRuntimeMXBean().getInputArguments()),
            "class_path": system.getProperty("java.class.path"),
        }
        exercise(spark, work)
        spark.stop()
        gateway = SparkContext._gateway
        gateway.shutdown()
        gateway.proc.stdin.close()  # the gateway server exits when its stdin closes
        gateway.proc.wait()  # and dumps the archive on its way out
        os.chdir(home)
    print(json.dumps(jvm))


if __name__ == "__main__":
    main(sys.argv[1])
