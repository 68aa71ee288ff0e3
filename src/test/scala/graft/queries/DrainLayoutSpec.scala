package graft.queries

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import graft.SparkTestBase

/** The file layout a maintained drain leaves ([[DrainHarness]]): AQE
  * sizes each micro-batch's persisted frames to the batch, so a merged
  * slice reaches its commit in one partition and every bucket dir of
  * every version holds one part file; the setting that allows it stays
  * on the drain's own session.
  */
class DrainLayoutSpec extends SparkTestBase {

  private val CachedPartitioning =
    "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning"

  test("an aggregate drain writes one part file per bucket dir of " +
      "every version, and leaves the caller's session conf as it was") {
    val before = spark.conf.getOption(CachedPartitioning)
    val store = AggCdcQueries.runMaintenance(spark, sf, 2)
    assert(spark.conf.getOption(CachedPartitioning) === before)
    for (table <- Seq("agg.state", "agg.summary")) {
      val dirs = store.versions(table).flatMap(store.dirsAt(table, _)).distinct
      assert(dirs.nonEmpty, s"$table has no bucket dir")
      val off = dirs.map { d =>
        val s = Files.list(Paths.get(store.warehouse, table).resolve(d))
        try d -> s.iterator().asScala.count { p =>
          val f = p.getFileName.toString
          f.startsWith("part-") && f.endsWith(".parquet")
        } finally s.close()
      }.filter(_._2 != 1)
      if (off.nonEmpty) fail(s"$table bucket dirs without exactly one " +
        s"part file: ${off.map { case (d, n) => s"$d: $n" }.mkString(", ")}")
    }
  }
}
