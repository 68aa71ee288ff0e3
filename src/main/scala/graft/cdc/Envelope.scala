package graft.cdc

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Debezium-shaped change-event envelope model.
  *
  * Mirrors the wire format the reference pipeline consumes: a JSON
  * change record `{before, after, op, ts_ms, source{schema,table}}`
  * (reference: kafka/config/connect-standalone.properties:2-5 declares
  * JsonConverter; kafka/config/connect-iceberg-sink.json:10-11 consumes
  * the Debezium envelope via `DebeziumTransform`). `seq` carries the
  * within-timestamp ordering the log guarantees per key (the Kafka
  * offset analog; reference topics are single-partition, setup.sh:31).
  *
  * Scale note: the envelope is a plain nested StructType, so every
  * transformation over it stays inside Catalyst/Tungsten (codegen'd
  * struct field access), and a change log stored as parquet gets
  * column pruning on `after`/`before` subfields for free.
  */
object Envelope {

  /** Operation codes, exactly Debezium's: create/update/delete/read(snapshot). */
  val OpCreate = "c"
  val OpUpdate = "u"
  val OpDelete = "d"
  val OpRead   = "r"

  val sourceSchema: StructType = StructType(Seq(
    StructField("schema", StringType, nullable = false),
    StructField("table", StringType, nullable = false)
  ))

  /** Envelope schema for a given row (table) schema. */
  def envelopeSchema(rowSchema: StructType): StructType = StructType(Seq(
    StructField("before", rowSchema, nullable = true),
    StructField("after", rowSchema, nullable = true),
    StructField("op", StringType, nullable = false),
    StructField("ts_ms", LongType, nullable = false),
    StructField("seq", LongType, nullable = false),
    StructField("source", sourceSchema, nullable = false)
  ))

  /** A8 — envelope flatten + CDC-metadata projection (DebeziumTransform
    * analog, reference connect-iceberg-sink.json:10-11): the row image is
    * `after` for c/u/r and `before` for d; CDC metadata is kept in a
    * single `_cdc` struct column so downstream operators can carry it
    * through joins/unions without column-name collisions.
    *
    * Output: `row` (struct) + `_cdc` (struct: op, ts_ms, seq, source).
    */
  def flatten(events: DataFrame): DataFrame =
    events.select(
      coalesce(col("after"), col("before")).as("row"),
      struct(
        col("op"), col("ts_ms"), col("seq"), col("source")
      ).as("_cdc")
    )

  /** Wire-format serialization: envelope struct -> one JSON string per
    * event (the reference's JsonConverter with inline schema; we carry
    * the schema out-of-band per A6 schema-history instead of inline —
    * repeating the schema per record is a deliberate non-goal at 100 TB).
    */
  def toWire(events: DataFrame): DataFrame =
    events.select(to_json(struct(events.columns.map(col): _*)).as("value"))

  /** Wire-format parse: JSON string -> typed envelope columns.
    * FAILFAST: a corrupt wire record must surface as a parse failure,
    * not flow downstream as an all-null envelope (the reference sink is
    * errors.tolerance=none, connect-iceberg-sink.json:6-8).
    */
  def fromWire(wire: DataFrame, rowSchema: StructType): DataFrame = {
    val env = envelopeSchema(rowSchema)
    wire.select(from_json(col("value"), env,
        Map("mode" -> "FAILFAST")).as("e"))
      .select("e.*")
  }
}
