package cdcbench

import java.nio.file.{Files, Path}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** What every workload shares: the session, the seed and run length, the
  * optional tracer, and the run's ledger of operations, samples and
  * correctness checks.
  */
final class Ctx(val spark: SparkSession, val seed: Long, val seconds: Double,
                val sfDir: String, val work: Path, val tracer: Option[Tracer],
                val progress: ProgressLog) {

  var attempted = 0
  var failed = 0
  val errors = mutable.ArrayBuffer.empty[String]
  /** Latency samples in ms by kind, in the order they were taken. */
  val samples = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  /** Process CPU ms each sampled operation consumed, all JVM threads. */
  val cpuSamples = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  /** Diagnostics that are not end-to-end metrics. */
  val diag = mutable.LinkedHashMap.empty[String, Any]

  def span[T](name: String, op: Int = -1, parent: Option[Int] = None)
             (body: => T): T = tracer match {
    case Some(t) => t.span(name, op, parent)(_ => body)
    case None => body
  }

  /** Add to a counter of the innermost span open on this thread. */
  def count(k: String, v: Double): Unit =
    tracer.foreach(_.current().foreach(_.add(k, v)))

  /** An untimed set-up phase; its wall time lands in the diagnostics. */
  def phase[T](name: String)(body: => T): T = {
    val t0 = System.nanoTime()
    try body finally diag(s"setup.${name}_s") = (System.nanoTime() - t0) / 1e9
  }

  def dir(name: String): Path = Files.createDirectories(work.resolve(name))

  /** One timed operation of `kind`: counted as attempted, its wall time
    * recorded when `timed`, and counted as failed when it throws.
    */
  def op[T](kind: String, timed: Boolean = true)(body: => T): Option[T] = {
    attempted += 1
    val t0 = System.nanoTime()
    val c0 = Ctx.cpuNs()
    try {
      val r = body
      if (timed) {
        samples.getOrElseUpdate(kind, mutable.ArrayBuffer.empty) +=
          (System.nanoTime() - t0) / 1e6
        cpuSamples.getOrElseUpdate(kind, mutable.ArrayBuffer.empty) +=
          (Ctx.cpuNs() - c0) / 1e6
      }
      Some(r)
    } catch {
      case e: Exception =>
        failed += 1
        errors += s"$kind: ${e.getClass.getSimpleName}: ${e.getMessage}".take(400)
        None
    }
  }

  /** A correctness check: attempted, and failed when it does not hold. */
  def check(what: String)(ok: => Boolean): Unit = {
    attempted += 1
    val holds = try ok catch {
      case e: Exception =>
        errors += s"check $what threw ${e.getClass.getSimpleName}: ${e.getMessage}"
          .take(400)
        false
    }
    if (!holds) {
      failed += 1
      errors += s"check failed: $what"
    }
  }

  def sampleMs(kind: String): Seq[Double] =
    samples.get(kind).map(_.toSeq).getOrElse(Nil)

  def cpuMs(kind: String): Seq[Double] =
    cpuSamples.get(kind).map(_.toSeq).getOrElse(Nil)
}

object Ctx {
  private val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  /** CPU time this process has used, in ns, less its JIT compiler
    * threads: compilation is warm-up work that fades as the run goes on,
    * so counting it would make early operations look dearer. Time the
    * hypervisor steals from the machine is not in it either.
    */
  def cpuNs(): Long = os.getProcessCpuTime - jitCpuNs()

  /** utime + stime of the C1/C2 compiler threads, from /proc (the JVM
    * runs with a fixed set of compiler threads, so none exits mid-run).
    */
  private def jitCpuNs(): Long = {
    val tasks = Files.list(java.nio.file.Paths.get("/proc/self/task"))
    try tasks.iterator().asScala.map { t =>
      try {
        val st = Files.readString(t.resolve("stat"))
        val comm = st.substring(st.indexOf('(') + 1, st.lastIndexOf(')'))
        if (comm.startsWith("C1 Compiler") || comm.startsWith("C2 Compiler")) {
          // Fields 14 and 15 (utime, stime) are 12 and 13 after the ')'.
          val f = st.substring(st.lastIndexOf(')') + 2).split(" ")
          f(11).toLong + f(12).toLong
        } else 0L
      } catch { case _: java.io.IOException => 0L }
    }.sum * JiffyNs
    finally tasks.close()
  }

  /** One clock tick of /proc times (USER_HZ = 100 on Linux). */
  private val JiffyNs = 10000000L
}

/** The benchmark's own view of table state, computed without the engine's
  * merge code: latest (ts_ms, seq) per key wins, a delete removes the key.
  */
object Expected {

  /** Column holding the number of wire files applied in [[states]]. */
  val Prefix = "_prefix"

  /** The expected state after each prefix in `prefixes` of the change
    * log, one frame with a [[Prefix]] column beside the row columns.
    * Snapshot rows are `op='r'` events (ts 0, seq = first key column, the
    * initial-snapshot convention) that precede every file; `events`
    * carries the index of its wire file in column `file`.
    */
  def states(base: DataFrame, pk: Seq[String], events: DataFrame,
             prefixes: Seq[Int]): DataFrame = {
    val ps = array(prefixes.distinct.sorted.map(lit): _*)
    val snap = base.select(struct(base.columns.map(col): _*).as("row"),
      lit("r").as("op"), lit(0L).as("ts_ms"),
      col(pk.head).cast("long").as("seq"), explode(ps).as(Prefix))
    val evs = events.select(coalesce(col("after"), col("before")).as("row"),
      col("op"), col("ts_ms"), col("seq"),
      explode(filter(ps, p => p > col("file"))).as(Prefix))
    val w = Window.partitionBy(col(Prefix) +: pk.map(c => col(s"row.$c")): _*)
      .orderBy(col("ts_ms").desc, col("seq").desc)
    snap.unionByName(evs)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1 && col("op") =!= "d")
      .select(col(Prefix), col("row.*"))
  }

  /** Order-independent content fingerprint: row count, and the sum and
    * xor of a 64-bit hash of every row (columns in name order, as text).
    */
  private def fingerprintAggs(cols: Seq[String]): Seq[Column] = {
    val h = xxhash64(cols.sorted.map(c => col(c).cast("string")): _*)
    Seq(count(lit(1)), coalesce(sum(pmod(h, lit(4294967296L))), lit(0L)),
      coalesce(bit_xor(h), lit(0L)))
  }

  def fingerprint(df: DataFrame): (Long, Long, Long) = {
    val aggs = fingerprintAggs(df.columns.toSeq)
    val r = df.agg(aggs.head, aggs.tail: _*).head()
    (r.getLong(0), r.getLong(1), r.getLong(2))
  }

  /** [[fingerprint]] of every prefix of a [[states]] frame. */
  def fingerprints(states: DataFrame): Map[Int, (Long, Long, Long)] = {
    val aggs = fingerprintAggs(states.columns.toSeq.filterNot(_ == Prefix))
    states.groupBy(Prefix).agg(aggs.head, aggs.tail: _*).collect()
      .map(r => r.getInt(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3))))
      .toMap
  }
}
