package cdcbench

import java.nio.file.{Files, Path, StandardCopyOption}
import java.nio.file.attribute.FileTime

import scala.jdk.CollectionConverters._

import graft.cdc.Envelope
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Seeded change-log generator. Every choice (which keys a file touches,
  * how many events per key, the op, the new values) is a hash of
  * (seed, file, key, event), so one seed always yields byte-identical
  * wire files, independent of partitioning or machine.
  */
object Gen {

  val Schema = "commerce"

  /** A captured table: primary key, the columns an update rewrites
    * (each as a function of a per-event hash), and for a table served by
    * GROUP BY scans the (group, amount) columns they read.
    */
  final case class TableSpec(name: String, pk: Seq[String],
                             mutate: Seq[(String, Column => Column)],
                             scanBy: Option[(String, String)] = None) {
    def fqn: String = s"$Schema.$name"
    def target: String = s"cdc.${Schema}_$name"
  }

  private def money(c: String, spread: Int): Column => Column = h =>
    round(col(c) + (pmod(h, lit(2 * spread + 1)) - spread) / 100.0, 2)

  val customer = TableSpec("customer", Seq("c_custkey"),
    Seq("c_acctbal" -> money("c_acctbal", 10000),
      "c_mktsegment" -> (h => element_at(array(Seq("AUTOMOBILE", "BUILDING",
        "FURNITURE", "HOUSEHOLD", "MACHINERY").map(lit): _*),
        (pmod(h, lit(5)) + 1).cast("int")))),
    scanBy = Some(("c_mktsegment", "c_acctbal")))
  val part = TableSpec("part", Seq("p_partkey"),
    Seq("p_retailprice" -> money("p_retailprice", 1000)))

  /** Key offset of a created row: far above every fixture key, distinct
    * per (file, event), so a `c` event always inserts a new key.
    */
  val NewKeyStride = 10000000L

  /** Change events (envelope schema plus a `file` column) for `nFiles`
    * wire files over `base`. Each file touches a `share` of the keys;
    * a touched key gets 1..`maxEvents` events, each ~80% `u`, ~10% `d`
    * and ~10% `c` of a new key.
    */
  def events(base: DataFrame, t: TableSpec, seed: Long, nFiles: Int,
             share: Double, maxEvents: Int): DataFrame = {
    require(maxEvents >= 1 && maxEvents <= 4, "1..4 events per key")
    val keyCols = t.pk.map(col)
    def h(tag: String, extra: Column*): Column =
      xxhash64((Seq(lit(seed), lit(tag), col("file")) ++ keyCols ++ extra): _*)
    // Exactly round(share * keys) keys per file, those with the lowest
    // hashes, so the batch size does not vary with the seed.
    val perFile = math.max(1L, math.round(share * base.count()))
    val touched = base
      .withColumn("file", explode(sequence(lit(0), lit(nFiles - 1))))
      .withColumn("rank", row_number().over(Window.partitionBy("file")
        .orderBy((h("touch") +: keyCols): _*)))
      .filter(col("rank") <= perFile)
      .withColumn("ev", explode(sequence(lit(0),
        pmod(h("n"), lit(maxEvents)).cast("int"))))
      .withColumn("r", pmod(h("op", col("ev")), lit(100)))
      .withColumn("op", when(col("r") < 80, lit(Envelope.OpUpdate))
        .when(col("r") < 90, lit(Envelope.OpDelete))
        .otherwise(lit(Envelope.OpCreate)))
    val hv = h("val", col("ev"))
    val mutated = t.mutate.map(_._1).toSet
    val newKey = col(t.pk.head) +
      (col("file").cast("long") * 4 + col("ev") + 1) * lit(NewKeyStride)
    def image(created: Boolean, changed: Boolean): Column =
      struct(base.columns.toSeq.map { c =>
        val v =
          if (created && c == t.pk.head) newKey
          else if (changed && mutated(c))
            t.mutate.find(_._1 == c).get._2(hv)
          else col(c)
        v.cast(base.schema(c).dataType).as(c)
      }: _*)
    val isC = col("op") === Envelope.OpCreate
    val isD = col("op") === Envelope.OpDelete
    val nullImage = when(lit(false), image(created = false, changed = false))
    touched.select(
      col("file"),
      when(isC, nullImage).otherwise(image(created = false, changed = false))
        .as("before"),
      when(isD, nullImage)
        .when(isC, image(created = true, changed = true))
        .otherwise(image(created = false, changed = true)).as("after"),
      col("op"),
      (lit(1000000000L) + col("file").cast("long") * 1000 + col("ev"))
        .as("ts_ms"),
      pmod(h("seq", col("ev")), lit(1000000000000L)).as("seq"),
      struct(lit(Schema).as("schema"), lit(t.name).as("table")).as("source"))
  }

  /** One staged wire file: its path and how many events and bytes it holds. */
  final case class WireFile(path: Path, events: Long, bytes: Long)

  /** Write `evs` (one [[events]] frame per table) as one JSON wire file per `file` value into `dir`, named
    * `wire-NNNN.json`, lines ordered by (ts_ms, seq, table), with strictly
    * increasing mtimes. Files are staged outside the stream's directory
    * and moved in one at a time by the workload.
    */
  def writeWire(spark: SparkSession, evs: Seq[DataFrame], nFiles: Int,
                dir: Path): Seq[WireFile] = {
    val tmp = dir.resolveSibling(dir.getFileName.toString + ".tmp")
    // The same JSON line Envelope.toWire writes, with the ordering keys
    // kept alongside.
    val withValue = evs.map(e => e.select(col("file"), col("ts_ms"),
      col("seq"), col("source.table").as("tbl"),
      to_json(struct(e.columns.filterNot(_ == "file").map(col).toSeq: _*))
        .as("value"))).reduce(_.unionByName(_))
    withValue.repartition(math.max(1, math.min(nFiles, 8)), col("file"))
      .sortWithinPartitions("file", "ts_ms", "seq", "tbl")
      .select("file", "value")
      .write.mode("overwrite").partitionBy("file").text(tmp.toString)
    Files.createDirectories(dir)
    val base = 1700000000000L
    val out = (0 until nFiles).map { i =>
      val part = tmp.resolve(s"file=$i")
      val src =
        if (!Files.exists(part)) None
        else Files.list(part).iterator().asScala
          .find(_.getFileName.toString.startsWith("part-"))
      val dst = dir.resolve(f"wire-$i%04d.json")
      src match {
        case Some(p) => Files.move(p, dst, StandardCopyOption.REPLACE_EXISTING)
        case None => Files.write(dst, Array.emptyByteArray)
      }
      Files.setLastModifiedTime(dst, FileTime.fromMillis(base + i * 1000L))
      val lines = Files.lines(dst)
      val n = try lines.count() finally lines.close()
      WireFile(dst, n, Files.size(dst))
    }
    deleteTree(tmp)
    out
  }

  /** Parse wire files back to envelope rows of table `t` with the
    * benchmark's own reader (not the engine's), for the correctness gate.
    * Column `file` holds the index of the row's wire file.
    */
  def readEnvelopes(spark: SparkSession, files: Seq[Path], t: TableSpec,
                    rowSchema: StructType): DataFrame = {
    val env = Envelope.envelopeSchema(rowSchema)
    if (files.isEmpty)
      spark.createDataFrame(spark.sparkContext.emptyRDD[Row], env)
        .withColumn("file", lit(0))
    else spark.read.schema(env).json(files.map(_.toString): _*)
      .filter(col("source.table") === t.name)
      .withColumn("file", regexp_extract(col("_metadata.file_name"),
        "wire-(\\d+)", 1).cast("int"))
  }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p))
      Files.walk(p).sorted(java.util.Comparator.reverseOrder())
        .forEach(q => Files.deleteIfExists(q))
}
