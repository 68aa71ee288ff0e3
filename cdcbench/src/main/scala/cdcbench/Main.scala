package cdcbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import graft.Tables

/** Benchmark JVM: runs one workload and prints one `BENCH_RESULT {json}`
  * line; `run.py` launches it and turns that line into the result.
  *
  *   Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *        --work <dir> --sf <dir> [--cores <n>] [--trace-out <file>]
  */
object Main {

  val Workloads: Seq[String] = Seq("trickle", "serve_mixed", "maintained_drain")

  /** Nominal wall time of one write cycle (a write, its read and its
    * share of the maintenance) on a 4-core host: a stream workload times
    * `--seconds / WriteCycleS` writes.
    */
  val WriteCycleS = 2.0

  def workload(name: String, ctx: Ctx): Workload = {
    val writes = math.max(1, math.round(ctx.seconds / WriteCycleS).toInt)
    name match {
      case "trickle" => new StreamWorkload(ctx, Seq(Gen.customer, Gen.part),
        writes, share = 0.01, warmFiles = 2,
        readsPerWrite = 0, maintainEvery = 0, retainLast = 0, endReads = 2)
      case "serve_mixed" => new StreamWorkload(ctx, Seq(Gen.customer),
        writes, share = 0.01, warmFiles = 3,
        readsPerWrite = 1, maintainEvery = 3, retainLast = 4, endReads = 0)
      case "maintained_drain" => new MaintainedDrain(ctx, serveReps = 5)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
  }

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) =>
      k.stripPrefix("--") -> v }.toMap
    val name = opts("workload")
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val traced = opts.getOrElse("trace", "0") == "1"
    val work = Paths.get(opts("work")).toAbsolutePath
    val cores = opts.getOrElse("cores", "4")
    val sf = opts("sf")
    require(Workloads.contains(name), s"unknown workload $name")

    val jvmUp = (System.currentTimeMillis() -
      ManagementFactory.getRuntimeMXBean.getStartTime) / 1000.0
    val t0 = System.nanoTime()
    val spark = Tables.localSession(cores)
    spark.sparkContext.setLogLevel("ERROR")
    val progress = new ProgressLog
    spark.sparkContext.addSparkListener(progress)
    val tracer = if (traced) Some(new Tracer(spark)) else None
    val ctx = new Ctx(spark, seed, seconds, sf, work, tracer, progress)
    ctx.diag("setup.jvm_s") = jvmUp
    ctx.diag("setup.session_s") = (System.nanoTime() - t0) / 1e9
    val wl = workload(name, ctx)

    wl.setup()
    val setupS = (System.currentTimeMillis() -
      ManagementFactory.getRuntimeMXBean.getStartTime) / 1000.0
    val warmFailed = ctx.failed
    val h0 = Host.sample()
    val from = System.currentTimeMillis()
    if (warmFailed == 0) wl.run()
    val to = System.currentTimeMillis()
    val h1 = Host.sample()
    if (warmFailed == 0) wl.finish()

    val e2e = mutable.LinkedHashMap[String, Double]("setup_s" -> setupS)
    e2e ++= wl.e2e
    ctx.diag("rss_mb") = Host.peakRssMb()

    val sampleDiag = ctx.samples.map { case (k, xs) =>
      k -> Stats.summary(xs.toSeq).map { s =>
        Map("n" -> s.n, "p50_ms" -> s.p50, "tail_pct" -> s.tailP,
          "tail_ms" -> s.tail, "first_ms" -> s.first,
          "steady_p50_ms" -> s.steadyP50, "ms" -> xs.toSeq,
          "cpu_ms" -> ctx.cpuMs(k))
      }
    }.toMap
    val out = mutable.LinkedHashMap[String, Any](
      "workload" -> name, "seed" -> seed, "seconds" -> seconds,
      "cores" -> cores, "traced" -> traced,
      "attempted" -> ctx.attempted, "failed" -> ctx.failed,
      "errors" -> ctx.errors.take(20).toSeq,
      "timed_wall_s" -> (to - from) / 1000.0,
      "e2e" -> e2e.toMap,
      "samples" -> sampleDiag,
      "host" -> Host.cleanliness(h0, h1),
      "diag" -> ctx.diag.toMap)
    tracer.foreach { t =>
      val rep = t.report(from, to)
      val layers = Layers.metrics(rep, ctx, wl.layerExtras)
      out("layers") = layers
      opts.get("trace-out").foreach { p =>
        Files.writeString(Paths.get(p), Json(Layers.spanDump(rep, from, to, name,
          seed, layers)))
      }
    }
    println("BENCH_RESULT " + Json(out.toMap))
    System.out.flush()
    spark.streams.active.foreach(q => try q.stop() catch { case _: Exception => () })
    spark.stop()
  }
}

/** Per-layer metrics from a traced run's span report: times and counts
  * are means per call of the layer's span, Spark totals are per timed
  * operation.
  */
object Layers {

  val Names: Seq[String] = Seq(
    "envelope.parse_ms", "envelope.events", "envelope.wire_bytes",
    "merge.compact_ms", "merge.compaction_ratio", "merge.shuffle_write_bytes",
    "mergecommit.ms", "mergecommit.jobs", "mergecommit.executor_ms",
    "mergecommit.driver_gap_ms", "mergecommit.affected_bucket_share",
    "statestore.files_written", "statestore.bytes_written",
    "statestore.rows_rewritten_per_event",
    "statestore.read_ms", "statestore.files_read", "statestore.bytes_read",
    "statestore.maintain_ms", "statestore.versions_live",
    "statestore.bytes_reclaimed",
    "pipeline.trigger_ms", "pipeline.addbatch_ms", "pipeline.bookkeeping_ms",
    "pipeline.batches",
    "maintainer.batch_ms", "maintainer.jobs_per_batch",
    "maintainer.executor_ms", "maintainer.driver_gap_ms", "maintainer.serve_ms",
    "spark.jobs", "spark.tasks", "spark.executor_ms", "spark.driver_gap_ms",
    "spark.unattributed_ms", "trace.attributed_share")

  def metrics(rep: Tracer.Report, ctx: Ctx,
              extras: Map[String, Double]): Map[String, Double] = {
    def per(span: String)(f: Tracer.Agg => Double): Double =
      rep.byName.get(span).map(a => f(a) / math.max(1, a.calls)).getOrElse(0.0)
    def total(span: String)(f: Tracer.Agg => Double): Double =
      rep.byName.get(span).map(f).getOrElse(0.0)
    def counter(k: String)(a: Tracer.Agg) = a.counters.getOrElse(k, 0.0)
    val events = total("envelope")(counter("events"))
    val ratio = (a: Double, b: Double) => if (b > 0) a / b else 0.0
    val ops = math.max(1, ctx.samples.valuesIterator.map(_.size).sum)
    val batches = extras.getOrElse("maintainer.batches", 0.0)
    val m = mutable.LinkedHashMap[String, Double](
      "envelope.parse_ms" -> per("envelope")(_.wallMs),
      "envelope.events" -> per("envelope")(counter("events")),
      "merge.compact_ms" -> per("merge")(_.wallMs),
      "merge.compaction_ratio" -> ratio(total("merge")(counter("rows_out")), events),
      "merge.shuffle_write_bytes" -> per("merge")(_.shuffleWrite),
      "mergecommit.ms" -> per("mergecommit")(_.wallMs),
      "mergecommit.jobs" -> per("mergecommit")(_.jobs.toDouble),
      "mergecommit.executor_ms" -> per("mergecommit")(_.execMs),
      "mergecommit.driver_gap_ms" -> per("mergecommit")(_.gapMs),
      "mergecommit.affected_bucket_share" ->
        per("mergecommit")(counter("affected_share")),
      "statestore.files_written" -> per("mergecommit")(counter("files_written")),
      "statestore.bytes_written" -> per("mergecommit")(counter("bytes_written")),
      "statestore.rows_rewritten_per_event" ->
        ratio(total("mergecommit")(_.outRecords), events),
      "statestore.read_ms" -> per("statestore.read")(_.wallMs),
      "statestore.files_read" -> per("statestore.read")(counter("files_read")),
      "statestore.bytes_read" -> per("statestore.read")(_.inBytes),
      "statestore.maintain_ms" -> per("statestore.maintain")(_.wallMs),
      "maintainer.jobs_per_batch" ->
        ratio(total("maintainer.drain")(_.jobs.toDouble), batches),
      "maintainer.executor_ms" -> ratio(total("maintainer.drain")(_.execMs), batches),
      "maintainer.driver_gap_ms" -> ratio(total("maintainer.drain")(_.gapMs), batches),
      "maintainer.serve_ms" -> per("maintainer.serve")(_.wallMs),
      "spark.jobs" -> rep.jobs.toDouble / ops,
      "spark.tasks" -> rep.tasks.toDouble / ops,
      "spark.executor_ms" -> rep.execMs / ops,
      "spark.driver_gap_ms" -> rep.driverGapMs / ops,
      "spark.unattributed_ms" -> rep.unattributedMs / ops,
      "trace.attributed_share" -> rep.attributedShare)
    Names.map(n => n -> m.getOrElse(n, extras.getOrElse(n, 0.0))).toMap
  }

  /** The traced run's spans, each with its self time, plus per-layer
    * totals: self time, driver gap and Spark work per span name.
    */
  def spanDump(rep: Tracer.Report, from: Long, to: Long, workload: String,
               seed: Long, layers: Map[String, Double]): Map[String, Any] = {
    val wall = (to - from).toDouble
    val selfTotal = rep.byName.values.map(_.selfMs).sum
    Map(
      "workload" -> workload, "seed" -> seed, "timed_wall_ms" -> wall,
      "attributed_share" -> rep.attributedShare,
      "unattributed_ms" -> rep.unattributedMs,
      "layers" -> rep.byName.map { case (n, a) =>
        n -> Map("calls" -> a.calls, "wall_ms" -> a.wallMs,
          "self_ms" -> a.selfMs, "self_share" -> a.selfMs / math.max(1.0, wall),
          "driver_gap_ms" -> a.gapMs, "jobs" -> a.jobs, "tasks" -> a.tasks,
          "executor_ms" -> a.execMs, "shuffle_write_bytes" -> a.shuffleWrite,
          "output_bytes" -> a.outBytes, "input_bytes" -> a.inBytes,
          "counters" -> a.counters)
      },
      "self_ms_total" -> selfTotal,
      "metrics" -> layers,
      "spans" -> rep.spans.sortBy(_.start).map { s =>
        Map("id" -> s.id, "name" -> s.name, "parent" -> s.parent, "op" -> s.op,
          "start_ms" -> (s.start - from), "end_ms" -> (s.end - from),
          "self_ms" -> rep.selfMs.getOrElse(s.id, 0.0))
      })
  }
}

/** Minimal JSON writer for the benchmark's own output. */
object Json {
  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => apply(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] => m.toSeq.sortBy(_._1.toString)
      .map { case (k, x) => quote(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
    case other => quote(other.toString)
  }

  private def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case '\r' => b ++= "\\r"
      case '\t' => b ++= "\\t"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    b += '"'
    b.toString
  }
}
