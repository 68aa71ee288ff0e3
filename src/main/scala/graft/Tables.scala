package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, TimestampNTZType}

/** Fixture-table loader. One place that knows the on-disk layout
  * (`<sfDir>/<table>.parquet`, TESTDATA.md) so queries only name tables.
  *
  * The `events` fixture stores `ts` as parquet TIMESTAMP(NANOS), which
  * Spark's vectorized reader rejects outright; with
  * `spark.sql.legacy.parquet.nanosAsLong=true` (set by every engine
  * entry point) it arrives as a LongType of nanoseconds, and this
  * loader converts it back to a first-class TimestampType at microsecond
  * precision — the same truncation DuckDB applies reading TIMESTAMP_NS,
  * so oracles agree.
  */
object Tables {
  val all: Seq[String] = Seq("region", "nation", "customer", "supplier",
    "part", "orders", "lineitem", "events", "documents", "embeddings")

  /** Configs every engine SparkSession needs: the fixture layout's,
    * local file I/O that starts no process — file modes set in-process
    * ([[NioLocalFileSystem]]) and a checkpoint manager that renames
    * through the FileSystem API (the FileContext one forks a `readlink`
    * per rename) — and driver-side listing of up to 1,024 paths: a
    * chained state read passes one path per bucket dir of every chain
    * (`StateStore.readChains`), and past Spark's default of 32 each read
    * would start a listing job for directories the driver lists in a
    * few milliseconds.
    */
  val sessionConfigs: Map[String, String] = Map(
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    "spark.sql.session.timeZone" -> "UTC",
    "spark.hadoop.fs.file.impl" -> classOf[NioLocalFileSystem].getName,
    "spark.sql.sources.parallelPartitionDiscovery.threshold" -> "1024",
    "spark.sql.streaming.checkpointFileManagerClass" ->
      ("org.apache.spark.sql.execution.streaming.checkpointing." +
        "FileSystemBasedCheckpointFileManager"))

  /** The one local-session builder every tool main (Bench, Verify,
    * TimeQ, PlanAudit) shares: `cores` drives both the local[...]
    * parallelism and the shuffle-partition count, and the fixture
    * configs above are always applied — so a fixture-required config
    * added here can never be missed by one of the harnesses.
    */
  def localSession(cores: String): SparkSession =
    sessionConfigs.foldLeft(SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.ui.enabled", "false")) {
      case (b, (k, v)) => b.config(k, v)
    }.getOrCreate()

  def load(spark: SparkSession, sfDir: String, table: String): DataFrame = {
    val df = spark.read.parquet(s"$sfDir/$table.parquet")
    if (table == "events") df.schema("ts").dataType match {
      // Legacy NANOS fixture: arrives as Long nanoseconds (see scaladoc).
      case LongType => df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      // TIMESTAMP(MICROS, isAdjustedToUTC=false) fixture: Spark 4 reads it
      // as TIMESTAMP_NTZ, which event-time streaming (withWatermark) and
      // unix_micros reject. The session timezone is pinned to UTC
      // (sessionConfigs), so casting to the instant type is a pure
      // re-interpretation of the same wall-clock values — DuckDB oracles,
      // which treat the column as a plain TIMESTAMP, agree bit-for-bit.
      case TimestampNTZType => df.withColumn("ts", col("ts").cast("timestamp"))
      case _ => df
    } else df
  }
}
