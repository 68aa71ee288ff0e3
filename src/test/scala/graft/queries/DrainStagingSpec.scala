package graft.queries

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import graft.{SparkTestBase, Tables}

/** [[DrainHarness.stage]] fixes the order a file stream source replays
  * the staged part files in (it orders by mtime), so a drain's
  * micro-batches are the same from run to run.
  */
class DrainStagingSpec extends SparkTestBase {

  test("staged part files list in name order with strictly increasing " +
      "mtimes, and two join-view drains leave identical raw rows") {
    val log = JoinCdcQueries.joinChangeLog(Tables.load(spark, sf, "customer"),
      Tables.load(spark, sf, "orders"))
    val dir = Paths.get(DrainHarness.stage(log, s"$sf/jv"))
    val parts = Files.list(dir).iterator().asScala.toSeq
      .filter(_.getFileName.toString.startsWith("part-"))
      .sortBy(_.getFileName.toString)
    assert(parts.size === 4)
    val mtimes = parts.map(Files.getLastModifiedTime(_).toMillis)
    assert(mtimes.zip(mtimes.tail).forall { case (a, b) => a < b },
      s"mtimes in name order: ${mtimes.mkString(", ")}")

    val tables = Seq("jv.customer", "jv.orders", "jv.orders_by_cust", "jv.view")
    def drainRows(): Map[String, Seq[String]] = {
      val store = JoinCdcQueries.runMaintenance(spark, sf, 2)
      tables.map(t => t -> store.rawState(spark, t).collect()
        .map(_.toString).toSeq.sorted).toMap
    }
    val first = drainRows()
    val second = drainRows()
    tables.foreach(t => assert(first(t) == second(t), s"$t raw rows differ"))
  }
}
