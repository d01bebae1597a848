"""Optional real-Kudu sink adapter (jar-gated).

The reference upserts to Kudu three ways (KuduContext.upsertRows
KafkaToKuduJava.java:117-119; datasource writer with UPSERT-on-append
kafka_to_kudu.py:44-45, KafkaToKuduScala.scala:53-56; SQL INSERT
kafka_to_kudu.py:48-51). This engine's primary sink is the
self-contained keyed store (``sinks.UpsertParquetSink``) so the
test/bench environment needs no external store; this module is the
drop-in adapter for a *real* Kudu cluster when the ``kudu-spark``
datasource jar is on the classpath (``--packages
org.apache.kudu:kudu-spark3_2.12:<ver>``).

Both sinks expose the same ``foreachBatch``-callable interface
(``sink(batch_df, batch_id)`` and ``read(spark)``), but this adapter
only stands in for a last-writer-wins store (``combine=None``): Kudu's
UPSERT replaces rows and has no aggregate merge, and its replay safety
is per-row idempotence rather than the store's manifest batch id.
``run_traffic_pipeline`` (streaming/traffic.py) always writes to an
``UpsertParquetSink``; this adapter is a building block for a caller
that wires its own query to a real cluster:

    sink = KuduUpsertSink(master="kudu-master:7051", table="traffic_conditions")
    query = parsed.writeStream.foreachBatch(sink).start()

Python cannot reach KuduContext (KUDU-1603, noted by the reference at
kafka_to_kudu.py:53), so — exactly like the reference's Python app —
this adapter uses the datasource path, whose ``append`` mode carries
Kudu's UPSERT semantics (last-writer-wins on the primary key), matching
``merge_by_key``'s contract.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

KUDU_FORMAT = "org.apache.kudu.spark.kudu"
_PROBE_CLASS = "org.apache.kudu.spark.kudu.KuduContext"


def kudu_available(spark: SparkSession) -> bool:
    """True when the kudu-spark datasource jar is on the JVM classpath."""
    try:
        spark._jvm.java.lang.Class.forName(_PROBE_CLASS)  # type: ignore[union-attr]
        return True
    except Exception:
        return False


class KuduUpsertSink:
    """``foreachBatch`` callable writing each micro-batch to Kudu with
    upsert semantics — interface-compatible with ``UpsertParquetSink``.
    """

    def __init__(self, master: str, table: str):
        self.master = master
        self.table = table

    def __call__(self, batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():  # O7 empty-batch guard (kafka_to_kudu.py:23)
            return
        if not kudu_available(batch_df.sparkSession):
            raise RuntimeError(
                "kudu-spark datasource not on the classpath; start Spark with "
                "--packages org.apache.kudu:kudu-spark3_2.12:<version>, or use "
                "sinks.UpsertParquetSink (the engine's self-contained keyed store)"
            )
        (
            batch_df.write.format(KUDU_FORMAT)
            .option("kudu.master", self.master)
            .option("kudu.table", self.table)
            .mode("append")  # append == UPSERT for the Kudu datasource
            .save()
        )

    def read(self, spark: SparkSession) -> DataFrame:
        """Scan the sink table back (O16, kafka_to_kudu.py:49-50)."""
        return (
            spark.read.format(KUDU_FORMAT)
            .option("kudu.master", self.master)
            .option("kudu.table", self.table)
            .load()
        )
