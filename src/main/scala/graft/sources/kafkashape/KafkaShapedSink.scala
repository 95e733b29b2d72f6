package graft.sources.kafkashape

import java.util.concurrent.ThreadLocalRandom

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils.escapePathName
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.{BinaryType, StringType}

/** Kafka-shaped streaming sink (SURVEY.md §2A A10–A12): enforces the
  * exact record contract of Spark's Kafka sink — `key`, `value` (string
  * or binary), a `topic` (column or fixed option) — and materializes
  * each epoch with producer metadata:
  *
  *  - `ts`: producer-assigned wall-clock epoch-millis captured PER
  *    RECORD at write time (`/root/reference/src/kafka_producer.cpp:41-42`
  *    stamps each message inside `Publish`) — a non-deterministic
  *    per-row clock expression, not a per-epoch driver constant;
  *  - `partition`: murmur-hash of the key mod `numPartitions` — the
  *    default partitioner semantics librdkafka applies when the
  *    reference leaves the partition unassigned
  *    (`kafka_producer.cpp:47`, `PARTITION_UA`). NULL keys spread
  *    uniformly at random across partitions (librdkafka's
  *    unassigned-partition behavior), never pile onto the constant
  *    hash-of-null partition;
  *  - output laid out per topic and epoch
  *    (`topic=<t>/epoch=<n>/`, like a topic log): a fixed topic writes
  *    each epoch straight into its directory, a `topic` column goes
  *    through a dynamic partition overwrite (see `writeEpoch`).
  *
  * The transport is parquet-on-disk rather than a broker (no Kafka
  * broker nor client jars exist in this environment); everything ABOVE
  * the transport — schema validation, keying, timestamping,
  * partitioner, epoch-at-a-time delivery via foreachBatch, flush-on-stop
  * drain (`kafka_producer.cpp:66-74`) — is the production shape, and
  * swapping the writer lambda for `writeStream.format("kafka")` is a
  * one-line change on a cluster with the Kafka connector present.
  */
object KafkaShapedSink {

  /** Validate the Kafka sink contract on a frame (mirrors the checks
    * Spark's Kafka sink performs at query start).
    */
  def validate(df: DataFrame, topicOption: Option[String]): Unit = {
    val schema = df.schema
    def typeOf(name: String) = schema.fields.find(_.name == name).map(_.dataType)
    require(typeOf("value").exists(t => t == StringType || t == BinaryType),
      "kafka-shaped sink requires a 'value' column of string or binary type")
    typeOf("key").foreach(t => require(t == StringType || t == BinaryType,
      "'key' column must be string or binary"))
    require(topicOption.isDefined || schema.fieldNames.contains("topic"),
      "no topic: pass a fixed topic or add a 'topic' column")
  }

  /** Start the sink on a streaming frame. Records land under
    * `$path/topic=<topic>/epoch=<n>/` as parquet with
    * (key, value, partition, ts).
    *
    * A fixed `topic` overrides any `topic` column, as in Spark's Kafka
    * sink: the column is dropped and every epoch takes `writeEpoch`'s
    * fixed-topic route. Without it, the per-row `topic` column routes
    * each record. `outputMode` is passed to `DataStreamWriter.outputMode`
    * (`update` for stateful output such as `OrderBook.topOfBook`).
    */
  def start(
      df: DataFrame,
      path: String,
      checkpoint: String,
      topic: Option[String] = None,
      numPartitions: Int = 8,
      outputMode: String = "append"): StreamingQuery = {
    validate(df, topic)
    val keyed =
      if (df.schema.fieldNames.contains("key")) df
      else df.withColumn("key", lit(null).cast(StringType))
    keyed.writeStream
      .outputMode(outputMode)
      .trigger(Trigger.ProcessingTime(0L))
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, epochId: Long) =>
        writeEpoch(batch, epochId, path, numPartitions, topic)
      }
      .start()
  }

  /** One epoch's delivery, IDEMPOTENT on replay: foreachBatch re-runs the
    * last epoch when a crash lands between the sink write and the commit
    * log; a plain append would double-deliver it. The retry rewrites
    * exactly its own `topic=<t>/epoch=<n>/` directory — Spark's file-sink
    * route to the exactly-once upgrade over the reference's
    * fire-and-forget delivery (`kafka_producer.cpp:54-56` logs-and-drops;
    * a real Kafka transport would instead use transactional producer
    * semantics). Two routes:
    *
    *  - `topic = Some(t)`: a plain overwrite of that one directory, its
    *    name escaped as `partitionBy` escapes it (any `topic` column is
    *    dropped). No sort, no dynamic-partition writer, no
    *    `.spark-staging` directory and no partition rename. An epoch with no rows leaves one 0-row file there
    *    (Spark writes a schema-only file for a non-partitioned write);
    *    readers see 0 rows either way.
    *  - `topic = None`: per-row topics from the `topic` column, written
    *    by a dynamic partition overwrite on (topic, epoch), which
    *    replaces only the partitions present in the batch. An empty epoch
    *    leaves no directory.
    */
  private[graft] def writeEpoch(
      batch: DataFrame, epochId: Long, path: String, numPartitions: Int,
      topic: Option[String] = None): Unit = {
    val records = batch
      .withColumn("partition",
        when(col("key").isNull, randomPartition(lit(numPartitions)))
          .otherwise(pmod(hash(col("key")), lit(numPartitions))))
      .withColumn("ts", recordTimestamp())
    topic match {
      case Some(t) =>
        records.drop("topic").write.mode("overwrite")
          .parquet(s"$path/topic=${escapePathName(t)}/epoch=$epochId")
      case None =>
        // a string names the same `epoch=<n>` directory; generated code
        // holds a string literal by reference but inlines a long one, so
        // a long would compile a new class for every epoch
        records.withColumn("epoch", lit(epochId.toString))
          .write.mode("overwrite")
          .option("partitionOverwriteMode", "dynamic")
          .partitionBy("topic", "epoch")
          .parquet(path)
    }
  }

  /** Producer-assigned epoch-millis, evaluated once PER RECORD on the
    * executor at write time — `current_timestamp()` folds to one value
    * per query and a `lit` to one per plan, so neither matches the
    * reference's stamp-at-publish semantics; a non-deterministic UDF is
    * re-evaluated per row by construction.
    */
  private val recordTimestamp =
    udf(() => System.currentTimeMillis()).asNondeterministic()

  /** A uniformly random partition in [0, n) for a NULL key. Not
    * `rand()`: its seed, new for every call, is inlined into the
    * generated code, so every epoch would compile a new class. */
  private val randomPartition =
    udf((n: Int) => ThreadLocalRandom.current().nextInt(n)).asNondeterministic()
}
