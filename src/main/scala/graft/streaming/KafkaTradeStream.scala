package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/**
 * Kafka deployment of the ingest/import planes (SURVEY.md §2.1 S2/S3).
 * Format names resolve at run time, so this compiles without the
 * spark-sql-kafka connector jar (absent in the zero-egress sandbox);
 * in a deployment with the connector on the classpath these run as-is.
 * The import plane is `TradeStream.start` itself — the MemoryStream-tested
 * and benchmarked parse → `foreachBatch` → store chain — so only the
 * endpoints differ.
 *
 * Client configs mirror the reference:
 *  - consumer group starts at latest (`importer/cmd/main.go:24`,
 *    OffsetNewest) → `startingOffsets=latest`; Spark manages offsets in
 *    its checkpoint (commits after sink success ≙ at-least-once, ST2).
 *  - producer idempotent, acks=all, ≤1 in-flight
 *    (`consumer/cmd/main.go:23-26`).
 *
 * Live-endpoint test status: an embedded-broker test was scoped and is
 * NOT runnable here — no kafka-clients, kafka-server, or
 * spark-sql-kafka artifact exists anywhere in the environment
 * (`/opt/spark/jars`, the coursier cache) and dependency resolution is
 * offline, so neither an in-JVM broker nor the connector's
 * `KafkaSourceProvider` can load (`format("kafka")` throws
 * DATA_SOURCE_NOT_FOUND before any option validation). What IS covered:
 * the full transform chain via MemoryStream (StreamingSpec) and these
 * endpoint configs by inspection against the reference. A deployment
 * adds the spark-sql-kafka jar and runs this file unchanged.
 */
object KafkaTradeStream {

  val Topic = "currency-trades" // consumer/cmd/main.go:73

  /** S3 + import plane: Kafka → validated trades → columnar store. */
  def startImport(
      spark: SparkSession,
      bootstrapServers: String,
      storePath: String,
      checkpointPath: String,
      trigger: Trigger = Trigger.ProcessingTime("1 second"),
      idempotent: Boolean = true): StreamingQuery = {
    val raw = spark.readStream
      .format("kafka")
      .option("kafka.bootstrap.servers", bootstrapServers)
      .option("subscribe", Topic)
      .option("startingOffsets", "latest")
      .load()
      .select(col("value").cast("string").as("json"))
    TradeStream.start(raw, "json", storePath, checkpointPath, trigger, idempotent)
  }

  /** S2 + consumer plane: validated wire messages → Kafka (JSON values,
    * unkeyed round-robin like the reference producer). */
  def startProduce(
      wireJson: DataFrame,
      jsonCol: String,
      bootstrapServers: String,
      checkpointPath: String): StreamingQuery =
    wireJson
      .select(col(jsonCol).cast("string").as("value"))
      .writeStream
      .format("kafka")
      .option("kafka.bootstrap.servers", bootstrapServers)
      .option("topic", Topic)
      .option("kafka.enable.idempotence", "true")     // consumer/cmd/main.go:23
      .option("kafka.acks", "all")                    // :25
      .option("kafka.max.in.flight.requests.per.connection", "1") // :26
      .option("checkpointLocation", checkpointPath)
      .start()
}
