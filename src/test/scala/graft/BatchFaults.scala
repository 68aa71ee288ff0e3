package graft

import java.nio.file.{FileSystemException, Files, Paths}

import graft.cdc.StateStore
import org.apache.spark.sql.SparkSession
import org.scalatest.Assertions._

/** Crash injection for the maintained families, from OUTSIDE the code
  * under test: a directory on a table's `_VERSION.tmp` path makes that
  * table's pointer swap throw, so every commit before it in the batch
  * lands and none after it runs — the torn state a process crash at
  * that boundary leaves. Plus the uncrashed baseline the retried store
  * is compared against.
  */
object BatchFaults {

  /** Run `batch`, which must fail at `table`'s commit. */
  def crashAtCommit(store: StateStore, table: String)(batch: => Unit): Unit = {
    val fault = Paths.get(store.warehouse, table, "_VERSION.tmp")
    Files.createDirectories(fault)
    try {
      val e = intercept[FileSystemException](batch)
      assert(e.getFile == fault.toString,
        s"the batch failed elsewhere than $table's commit: $e")
    } finally Files.delete(fault)
  }

  /** An independent copy of `store`'s warehouse, to run the same
    * batches with no crash.
    */
  def twin(store: StateStore): StateStore = {
    val src = Paths.get(store.warehouse)
    val dst = graft.Scratch.dir("graft-twin-")
    val s = Files.walk(src)
    try s.forEach { p =>
      val q = dst.resolve(src.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(q)
      else Files.copy(p, q)
      ()
    } finally s.close()
    new StateStore(dst.toString, store.nBuckets)
  }

  /** Every table equal, version and raw row for raw row, in both stores. */
  def assertSameTables(spark: SparkSession, a: StateStore, b: StateStore,
                       tables: Seq[String]): Unit =
    tables.foreach { t =>
      assert(a.currentVersion(t) == b.currentVersion(t),
        s"$t: version differs from the uncrashed run")
      def rows(s: StateStore) =
        s.rawState(spark, t).collect().map(_.toString).sorted.toSeq
      assert(rows(a) == rows(b), s"$t: rows differ from the uncrashed run")
    }
}
