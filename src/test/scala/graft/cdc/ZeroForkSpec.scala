package graft.cdc

import java.nio.file.{Files, Path}
import java.nio.file.attribute.PosixFilePermissions

import scala.jdk.CollectionConverters._

import graft.{SparkTestBase, Tables}
import jdk.jfr.Recording
import jdk.jfr.consumer.RecordingFile
import org.apache.spark.sql.functions._

/** Local file I/O starts no process: a [[StateStore]] commit and a
  * [[Pipeline.startWire]] micro-batch, recorded with JFR's
  * `jdk.ProcessStart` event, start none (without Hadoop's native
  * library the default `file:` filesystem forks a `chmod` per file and
  * dir, and the FileContext checkpoint manager a `readlink` per
  * rename), and what they write keeps the modes the default
  * filesystem gives it.
  */
class ZeroForkSpec extends SparkTestBase {

  /** Commands of the processes `body` started. */
  private def processesStartedBy(body: => Unit): Seq[String] = {
    val rec = new Recording()
    rec.enable("jdk.ProcessStart")
    rec.start()
    try body finally rec.stop()
    val out = graft.Scratch.dir("zero-fork-jfr-").resolve("rec.jfr")
    rec.dump(out)
    rec.close()
    RecordingFile.readAllEvents(out).asScala.toSeq
      .filter(_.getEventType.getName == "jdk.ProcessStart")
      .map(_.getString("command"))
  }

  private def mode(p: Path): String =
    PosixFilePermissions.toString(Files.getPosixFilePermissions(p))

  test("a StateStore commit and a startWire micro-batch start no process; " +
      "written files and dirs keep modes 0644 and 0755") {
    CdcAdmin.enableCdc("commerce.customer", Seq("c_custkey"))
    val base = Tables.load(spark, sf, "customer")
    val store = new StateStore(graft.Scratch.dir("zero-fork-wh-").toString, 4)
    val rows = base.withColumn(StateStore.TsCol, lit(1L))
      .withColumn(StateStore.SeqCol, col("c_custkey").cast("long"))
      .withColumn(StateStore.DeletedCol, lit(false))
      .withColumn(StateStore.BucketCol,
        StateStore.bucketExpr(Seq("c_custkey"), 4))
    // One micro-batch of wire events, staged before the recording.
    val logDir = graft.Scratch.dir("zero-fork-log-")
    Envelope.toWire(ChangeGen.changeLog(base, "c_custkey", "c_acctbal",
        "commerce", "customer").filter(col("ts_ms") === 1000))
      .coalesce(1).write.mode("overwrite").text(logDir.toString)
    val cfg = PipelineConfig(logDir.toString,
      graft.Scratch.dir("zero-fork-ck-").toString,
      includeTables = Seq("customer"), triggerIntervalMs = None,
      maxFilesPerTrigger = 1)
    // Warm the session outside the recording: the first query of a JVM
    // may probe the platform once.
    spark.range(1).count()

    val started = processesStartedBy {
      store.commit(spark, "zf.rows", rows, (0 until 4))
      new Pipeline(store).startWire(spark, cfg,
        Map("commerce.customer" -> base.schema)).awaitTermination()
    }
    assert(started.isEmpty, s"processes started: ${started.mkString(" | ")}")
    assert(store.currentVersion("cdc.commerce_customer") === 0)

    val bucketDir = java.nio.file.Paths.get(store.warehouse, "zf.rows", "v0",
      s"${StateStore.BucketCol}=0")
    val part = Files.list(bucketDir).iterator().asScala
      .find(_.getFileName.toString.startsWith("part-")).get
    assert(mode(part) === "rw-r--r--")
    assert(mode(bucketDir) === "rwxr-xr-x")
  }
}
