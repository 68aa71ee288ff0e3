package cdcbench

import java.nio.file.{Files, Path, StandardCopyOption}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import graft.Tables
import graft.cdc._
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.StructType

/** One benchmark workload: an untimed set-up (inputs, snapshot, one warm
  * pass), a timed closed loop of a fixed amount of work, then the serve
  * reads and the correctness gate. `e2e` gives the end-to-end metrics.
  */
abstract class Workload(val ctx: Ctx) {
  def setup(): Unit
  def run(): Unit
  def finish(): Unit
  def e2e: Map[String, Double]
  /** Layer counters this workload computes itself (beside the spans). */
  def layerExtras: Map[String, Double] = Map.empty

  protected def spark = ctx.spark

  protected def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN else Stats.median(xs)

  /** The end-to-end metrics from the write and serve samples. Each is
    * process CPU: the development host's hypervisor stole 0-25% of the
    * CPU from run to run, which moved wall-clock medians by up to 40%,
    * while CPU time, which excludes stolen time, repeats. The wall-clock
    * figures go to `diag.wall`.
    */
  protected def metrics(events: Seq[Double], write: String,
                        serveKinds: Seq[String]): Map[String, Double] = {
    def serve(f: String => Seq[Double]) = serveKinds.map(k => median(f(k))).sum /
      serveKinds.size
    // Events per second of each write, then their median: one write that
    // lands in a burst of host load moves a median less than a sum.
    def rate(ms: Seq[Double]) = median(events.zip(ms).map { case (e, t) =>
      e / (t / 1000.0) })
    ctx.diag("wall") = Map(
      "apply_events_per_s" -> rate(ctx.sampleMs(write)),
      s"${write}_ms_p50" -> median(ctx.sampleMs(write)),
      "serve_ms_p50" -> serve(ctx.sampleMs))
    Map(
      "apply_events_per_cpu_s" -> rate(ctx.cpuMs(write)),
      "write_cpu_ms_p50" -> median(ctx.cpuMs(write)),
      "serve_cpu_ms_p50" -> serve(ctx.cpuMs))
  }

  /** Bytes and files under `p`. */
  protected def du(p: Path): (Long, Long) =
    if (!Files.exists(p)) (0L, 0L)
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.filter(Files.isRegularFile(_))
        .foldLeft((0L, 0L)) { case ((b, n), f) => (b + Files.size(f), n + 1) }
      finally s.close()
    }

  /** Data files a manifest points at. */
  protected def manifestFiles(store: StateStore, target: String,
                              m: Map[Int, String]): Long =
    m.values.map(rel => du(Path.of(store.warehouse, target).resolve(rel))._2).sum

  /** Warehouse bytes of `target` over the bytes of its current state
    * written once as plain parquet.
    */
  protected def spaceAmp(store: StateStore, target: String): Double = {
    val once = ctx.work.resolve("once-" + target)
    store.rawState(spark, target).write.mode("overwrite").parquet(once.toString)
    val r = du(Path.of(store.warehouse, target))._1.toDouble /
      math.max(1L, du(once)._1)
    Gen.deleteTree(once)
    r
  }

  /** Bytes and files of a table directory, and its bucket manifest. */
  private def tableFiles(store: StateStore, target: String) = {
    val (bytes, files) = du(Path.of(store.warehouse, target))
    (bytes, files,
      if (store.exists(target)) store.manifest(target) else Map.empty[Int, String])
  }

  /** One target's slice of a traced micro-batch, through the calls
    * `Pipeline.startWire` makes for it: `Envelope.fromWire`,
    * `Envelope.flatten` and `Routing.route`, then the engine's commit,
    * `MergeCommit.mergeFlattened` on the routed slice. Each lands in its
    * own span under `parent`. Two steps are the benchmark's own: the
    * routed slice is persisted and counted inside the envelope span, and
    * `Merge.compactKeepTombstones` runs once more on its own inside the
    * merge span, so both lazy layers' work is timed. The commit then
    * compacts again, inside the engine's call, as the engine does. The
    * directory and manifest walks for the commit's counters run outside
    * the spans.
    */
  protected def tracedApply(store: StateStore, target: String, pk: Seq[String],
                            slice: DataFrame, rowSchema: StructType,
                            routePattern: String, parent: Int): Unit = {
    val routed = ctx.span("envelope", parent = Some(parent)) {
      val r = Routing.route(Envelope.flatten(Envelope.fromWire(slice, rowSchema)),
        routePattern).persist()
      ctx.count("events", r.count().toDouble)
      r
    }
    try {
      ctx.span("merge", parent = Some(parent))(ctx.count("rows_out",
        Merge.compactKeepTombstones(routed, pk).count().toDouble))
      val (b0, f0, m0) = tableFiles(store, target)
      val span = ctx.span("mergecommit", parent = Some(parent)) {
        MergeCommit.mergeFlattened(store, target, routed, pk)
        ctx.tracer.flatMap(_.current())
      }
      val (b1, f1, m1) = tableFiles(store, target)
      val changed = (m0.keySet ++ m1.keySet).count(b => m0.get(b) != m1.get(b))
      span.foreach { s =>
        s.add("files_written", (f1 - f0).toDouble)
        s.add("bytes_written", (b1 - b0).toDouble)
        s.add("affected_share", changed.toDouble / store.nBuckets)
      }
    } finally routed.unpersist()
  }
}

/** `trickle` and `serve_mixed`: change events, one per touched key,
  * arrive as JSON wire files streamed through `Pipeline.startWire`, one
  * file per micro-batch.
  * A write moves the next staged file into the stream's directory and
  * waits until the stream has committed it (closed loop). The timed loop
  * is exactly `writes` writes: every op gets cheaper for dozens of
  * operations as the JIT matures, so a deadline would let a slow host
  * time fewer, earlier and dearer writes than a fast one. With
  * `readsPerWrite > 0` every write follows that many reads of the first
  * table (point lookup, GROUP BY scan, as-of read, in turn), and every
  * `maintainEvery`-th write is followed by compaction and snapshot
  * expiry. Without loop reads, the serve reads come after the loop:
  * `endReads` full reads of each table, current and as of mid-run.
  */
final class StreamWorkload(ctx: Ctx, tables: Seq[Gen.TableSpec], writes: Int,
                           share: Double, warmFiles: Int,
                           readsPerWrite: Int, maintainEvery: Int,
                           retainLast: Int, endReads: Int) extends Workload(ctx) {
  private val nBuckets = 16
  private var bases: Map[String, DataFrame] = Map.empty
  private var schemas: Map[String, StructType] = Map.empty
  private var staged: Seq[Gen.WireFile] = Nil
  private var store: StateStore = _
  private var query: StreamingQuery = _
  private val logDir = ctx.work.resolve("log")
  private var fed = 0
  private var timedFrom = 0
  private var timedTo = 0
  private var progressFrom = 0
  private val nFiles = warmFiles + writes
  private val rng = new java.util.Random(ctx.seed)
  private var nKeys = 0L
  private var opNo = 0
  /** Files applied as of each committed version of each table. */
  private val versionFiles = mutable.Map.empty[(String, Int), Int]
  /** Every read: table, kind, version read, result. */
  private val reads = mutable.ArrayBuffer.empty[(Gen.TableSpec, String, Int, Any)]
  private val reclaimed = mutable.ArrayBuffer.empty[Double]
  @volatile private var currentOp = -1

  private def primary = tables.head

  def setup(): Unit = {
    bases = tables.map(t => t.name -> Tables.load(spark, ctx.sfDir, t.name)).toMap
    schemas = bases.map { case (n, b) => n -> b.schema }
    nKeys = bases(primary.name).count()
    tables.foreach(t => CdcAdmin.enableCdc(t.fqn, t.pk))
    val evs = tables.map(t =>
      Gen.events(bases(t.name), t, ctx.seed, nFiles, share, maxEvents = 1))
    staged = ctx.phase("staging")(
      Gen.writeWire(spark, evs, nFiles, ctx.work.resolve("staged")))
    store = new StateStore(ctx.work.resolve("wh").toString, nBuckets)
    val pipeline = new Pipeline(store)
    ctx.phase("snapshot")(tables.foreach { t =>
      pipeline.snapshot(bases(t.name), Gen.Schema, t.name)
      versionFiles((t.target, store.currentVersion(t.target))) = 0
    })
    Files.createDirectories(logDir)
    val cfg = PipelineConfig(logDir.toString, ctx.dir("ckpt").toString,
      schemaName = Gen.Schema, includeTables = tables.map(_.name),
      triggerIntervalMs = Some(0L), maxFilesPerTrigger = 1)
    val rowSchemas = tables.map(t => t.fqn -> schemas(t.name)).toMap
    query =
      if (ctx.tracer.isEmpty) pipeline.startWire(spark, cfg, rowSchemas)
      else startTraced(cfg, rowSchemas)
    // Warm pass: the warm files, then one operation of every other kind
    // the run performs.
    ctx.phase("warm") {
      (0 until warmFiles).foreach(_ => ctx.op("warm", timed = false)(feed()))
      if (readsPerWrite > 0) {
        (0 until 3).foreach(loopRead(_, timed = false))
        if (maintainEvery > 0) maintain(timed = false)
      } else tables.foreach(t => fullRead(t, store.currentVersion(t.target),
        timed = false))
    }
    timedFrom = fed
    org.apache.spark.CdcBenchBridge.awaitListeners(spark.sparkContext)
    progressFrom = ctx.progress.all.size
  }

  /** Make the next staged file visible to the stream and wait for its
    * micro-batch to commit.
    */
  private def feed(): Unit = {
    val f = staged(fed)
    val i = fed
    Files.move(f.path, logDir.resolve(f.path.getFileName),
      StandardCopyOption.ATOMIC_MOVE)
    fed += 1
    // processAllAvailable can return before a file that landed during a
    // trigger's listing is picked up; the source offset says for sure.
    def done: Boolean = Option(query.lastProgress).exists(p =>
      p.sources.headOption.exists(s =>
        "\"logOffset\"\\s*:\\s*(\\d+)".r.findFirstMatchIn(s.endOffset)
          .exists(_.group(1).toInt >= i)))
    while (!done) query.processAllAvailable()
    tables.foreach(t => versionFiles((t.target, store.currentVersion(t.target))) = fed)
  }

  private def write(): Unit = {
    opNo += 1
    ctx.span("pipeline.trigger", op = opNo) {
      currentOp = ctx.tracer.flatMap(_.current()).map(_.id).getOrElse(-1)
      ctx.op("commit")(feed())
    }
    if (maintainEvery > 0 && (fed - timedFrom) % maintainEvery == 0)
      maintain(timed = true)
  }

  private def maintain(timed: Boolean): Unit = tables.foreach { t =>
    val dir = Path.of(store.warehouse, t.target)
    val before = du(dir)._1
    opNo += 1
    ctx.op("maintain", timed)(ctx.span("statestore.maintain", op = opNo) {
      store.compactTable(spark, t.target)
      store.expireSnapshots(t.target, retainLast = Some(retainLast))
    })
    versionFiles((t.target, store.currentVersion(t.target))) = fed
    if (timed) reclaimed += (before - du(dir)._1).toDouble
  }

  /** A read of version `v` of `t`, recorded for the correctness gate. */
  private def read(t: Gen.TableSpec, kind: String, timed: Boolean, v: Int)
                  (body: => Any): Unit = {
    opNo += 1
    ctx.op(kind, timed)(ctx.span("statestore.read", op = opNo) {
      ctx.count("files_read",
        manifestFiles(store, t.target, store.manifestAt(t.target, v)).toDouble)
      reads += ((t, kind, v, body))
    })
  }

  private def state(t: Gen.TableSpec, v: Int): DataFrame =
    if (v == store.currentVersion(t.target)) store.currentState(spark, t.target)
    else store.stateAt(spark, t.target, v)

  /** Full read of a table state: its content fingerprint. */
  private def fullRead(t: Gen.TableSpec, v: Int, timed: Boolean): Unit =
    read(t, "serve", timed, v)(Expected.fingerprint(state(t, v)))

  private def oldestLive(t: Gen.TableSpec, cur: Int): Int =
    (0 to cur).find(x =>
      Files.exists(Path.of(store.warehouse, t.target, s"manifest-$x.tsv")))
      .getOrElse(cur)

  /** GROUP BY scan: per group, row count and amount in cents, by
    * `keys` first (the gate groups by prefix too).
    */
  private def scan(t: Gen.TableSpec, df: DataFrame,
                   keys: Seq[Column] = Seq(lit(0).as("k"))): Map[Int, Seq[(String, Long, Long)]] = {
    val (by, amount) = t.scanBy.get
    df.groupBy(keys :+ col(by): _*)
      .agg(count(lit(1)), sum(round(col(amount) * 100).cast("long")))
      .collect().toSeq
      .map(r => (r.getInt(0), (String.valueOf(r.get(1)), r.getLong(2), r.getLong(3))))
      .groupMap(_._1)(_._2).map { case (k, xs) => k -> xs.sortBy(_._1) }
  }

  /** Loop read `kind` (0 lookup, 1 scan, 2 as-of) of the first table. */
  private def loopRead(kind: Int, timed: Boolean): Unit = {
    val t = primary
    val cur = store.currentVersion(t.target)
    kind match {
      case 0 =>
        val k = (rng.nextDouble() * nKeys).toLong
        read(t, "lookup", timed, cur) {
          (k, store.currentState(spark, t.target)
            .filter(col(t.pk.head) === k).collect().toSeq)
        }
      case 1 =>
        read(t, "scan", timed, cur)(
          scan(t, store.currentState(spark, t.target)).getOrElse(0, Nil))
      case _ =>
        val v = math.max(cur - 1 - rng.nextInt(math.max(1, retainLast - 1)),
          oldestLive(t, cur))
        read(t, "asof", timed, v)(Expected.fingerprint(store.stateAt(spark, t.target, v)))
    }
  }

  def run(): Unit = {
    var slot = 0
    var readNo = 0
    while (fed < staged.size && ctx.failed == 0) {
      if (slot % (readsPerWrite + 1) < readsPerWrite) {
        loopRead(readNo % 3, timed = true)
        readNo += 1
      } else write()
      slot += 1
    }
    timedTo = fed
  }

  /** `Pipeline.startWire` with spans: the same source (metadata parse,
    * fail-fast guard, routing filters) and the same per-batch fan-out
    * (targets found from the batch, one `graft.Par` future per target),
    * with each target's slice going through [[tracedApply]]. Pool
    * threads are reused, so each target's spans name their parent
    * explicitly.
    */
  private def startTraced(cfg: PipelineConfig,
                          rowSchemas: Map[String, StructType]): StreamingQuery = {
    val metaSchema = new StructType()
      .add("op", "string").add("ts_ms", "long").add("seq", "long")
      .add("source", Envelope.sourceSchema)
    val src = spark.readStream
      .option("maxFilesPerTrigger", cfg.maxFilesPerTrigger)
      .text(cfg.changeLogDir)
      .withColumn("meta",
        from_json(col("value"), metaSchema, Map("mode" -> "FAILFAST")))
      .filter(when(col("meta.source").isNull,
        raise_error(concat(lit("A15 fail-fast: wire record without " +
          "source metadata: "), col("value"))).cast("boolean"))
        .otherwise(lit(true)))
      .filter(Routing.includeFilter(cfg.schemaName, cfg.includeTables,
        sourcePath = "meta.source"))
      .withColumn("topic", Routing.topicName(cfg.topicPrefix, "meta.source"))
      .filter(Routing.topicRegexFilter(col("topic"), cfg.topicRegex))
      .select("value", "meta")
    val writer = src.writeStream
      .option("checkpointLocation", cfg.checkpointDir)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        ctx.span("pipeline.addbatch", parent = Some(currentOp)) {
          val parent = ctx.tracer.flatMap(_.current()).map(_.id).getOrElse(-1)
          batch.persist()
          try {
            val targets = batch
              .select(col("meta.source.schema").as("s"),
                col("meta.source.table").as("t"))
              .distinct().collect()
              .map(r => (r.getString(0), r.getString(1))).sortBy(p => p._1 + p._2)
              .map { case (s, t) =>
                val fqn = s"$s.$t"
                (s, t, CdcAdmin.pkOf(fqn).getOrElse(throw new IllegalStateException(
                  s"CDC not enabled for $fqn")), rowSchemas(fqn))
              }
            graft.Par.awaitAll(targets.toSeq.map { case (s, t, pk, rowSchema) =>
              graft.Par.future {
                val slice = batch
                  .filter(col("meta.source.schema") === s &&
                    col("meta.source.table") === t)
                  .select("value")
                tracedApply(store, cfg.routePattern.replace("{schema}", s)
                  .replace("{table}", t), pk, slice, rowSchema,
                  cfg.routePattern, parent)
              }
            })
            ()
          } finally batch.unpersist()
        }
      }
    cfg.triggerIntervalMs match {
      case Some(ms) => writer.trigger(Trigger.ProcessingTime(ms)).start()
      case None => writer.trigger(Trigger.AvailableNow()).start()
    }
  }

  def finish(): Unit = {
    val t0 = System.nanoTime()
    query.stop()
    if (readsPerWrite == 0) {
      val mid = timedFrom + (timedTo - timedFrom) / 2
      tables.foreach { t =>
        val cur = store.currentVersion(t.target)
        val asOf = versionFiles.collectFirst {
          case ((tg, v), n) if tg == t.target && n == mid => v }.getOrElse(cur)
        for (_ <- 0 until endReads; v <- Seq(cur, asOf))
          fullRead(t, v, timed = true)
      }
    } else tables.foreach(t =>
      read(t, "final", timed = false, store.currentVersion(t.target))(
        Expected.fingerprint(store.currentState(spark, t.target))))
    gate()
    ctx.diag("space_amp") = tables.map(t => spaceAmp(store, t.target)).sum / tables.size
    ctx.diag("files_applied") = fed
    ctx.diag("versions_live") = tables.map(t =>
      Files.list(Path.of(store.warehouse, t.target)).iterator().asScala
        .count(_.getFileName.toString.startsWith("manifest-"))).sum.toDouble /
      tables.size
    ctx.diag("finish_s") = (System.nanoTime() - t0) / 1e9
  }

  /** Correctness gate: every read, against the benchmark's own
    * latest-wins state over the files applied up to the version it read.
    * All prefixes are computed in one pass per table.
    */
  private def gate(): Unit = {
    val applied = staged.take(fed).map(f => logDir.resolve(f.path.getFileName))
    reads.groupBy(_._1).foreach { case (t, rs) =>
      def n(v: Int) = versionFiles((t.target, v))
      val exp = Expected.states(bases(t.name), t.pk, Gen.readEnvelopes(spark,
        applied, t, schemas(t.name)), rs.map(r => n(r._3)).toSeq).persist()
      try {
        val fps = Expected.fingerprints(exp)
        lazy val scans = scan(t, exp, Seq(col(Expected.Prefix)))
        val lookups = rs.collect { case (_, "lookup", v, (k: Long, _)) => (n(v), k) }
        val found = (if (lookups.isEmpty) Array.empty[Row] else
          exp.filter(col(t.pk.head).isin(lookups.map(_._2).distinct.toSeq: _*)).collect())
          .groupBy(r => (r.getAs[Int](Expected.Prefix), r.getAs[Long](t.pk.head)))
        rs.foreach {
          case (_, "lookup", v, (k: Long, rows: Seq[Row] @unchecked)) =>
            ctx.check(s"${t.name} lookup $k at v$v")(
              rowsEqual(rows, found.getOrElse((n(v), k), Array.empty[Row]).toSeq))
          case (_, "scan", v, got) =>
            ctx.check(s"${t.name} scan at v$v")(got == scans.getOrElse(n(v), Nil))
          case (_, kind, v, got) =>
            ctx.check(s"${t.name} $kind at v$v (${n(v)} files)")(
              fps.get(n(v)).contains(got))
        }
      } finally exp.unpersist()
    }
  }

  /** Rows equal by column name, ignoring order and the prefix column. */
  private def rowsEqual(a: Seq[Row], b: Seq[Row]): Boolean = {
    def norm(rs: Seq[Row]) = rs.map(r => r.schema.fieldNames
      .filterNot(_ == Expected.Prefix).sorted.toSeq
      .map(f => String.valueOf(r.getAs[Any](f)))).sortBy(_.mkString("\u0001"))
    norm(a) == norm(b)
  }

  private def timedFiles = staged.slice(timedFrom, timedTo)

  /** With loop reads, serve figures are the mean of the lookup, scan and
    * as-of medians: their costs differ, so a pooled median would jump
    * between kinds as the per-run mix shifts by one read.
    */
  def e2e: Map[String, Double] = metrics(timedFiles.map(_.events.toDouble),
    "commit", if (readsPerWrite > 0) Seq("lookup", "scan", "asof") else Seq("serve"))

  override def layerExtras: Map[String, Double] = {
    val bs = ctx.progress.all.drop(progressFrom).take(timedFiles.size)
    def mean(f: ProgressLog.Batch => Double) =
      if (bs.isEmpty) 0.0 else bs.map(f).sum / bs.size
    Map(
      "envelope.wire_bytes" -> timedFiles.map(_.bytes.toDouble).sum /
        math.max(1, timedFiles.size),
      "pipeline.trigger_ms" -> mean(_.triggerMs.toDouble),
      "pipeline.addbatch_ms" -> mean(_.addBatchMs.toDouble),
      "pipeline.bookkeeping_ms" -> mean(b => (b.triggerMs - b.addBatchMs).toDouble),
      "pipeline.batches" -> bs.size.toDouble,
      "statestore.versions_live" -> ctx.diag.get("versions_live")
        .map(_.toString.toDouble).getOrElse(0.0),
      "statestore.bytes_reclaimed" ->
        (if (reclaimed.isEmpty) 0.0 else reclaimed.sum / reclaimed.size))
  }
}

/** `maintained_drain`: the registered maintained family
  * `cdc_agg_incremental`, drained end to end by calling its registry
  * function; a noop write of the returned frame is the serve step. The
  * timed phase is exactly one drain and its serves, whatever the run
  * length: one drain takes about 10 s of wall clock on a 4-core host, so
  * a deadline would make the sample count depend on the host. The
  * write-side figures of this workload are therefore one drain's. The
  * served rows are dumped for the oracle comparison the runner makes.
  */
final class MaintainedDrain(ctx: Ctx, serveReps: Int) extends Workload(ctx) {
  private val family = "cdc_agg_incremental"
  private var drainS = Double.NaN
  private var served: Option[DataFrame] = None
  private var progressFrom = 0
  private var progressTo = 0

  private def drainOnce(timed: Boolean): Option[DataFrame] = {
    val t0 = System.nanoTime()
    val df = ctx.op("drain", timed)(ctx.span("maintainer.drain") {
      graft.SparkEntry.queries(family)(spark, ctx.sfDir)
    })
    if (timed) drainS = (System.nanoTime() - t0) / 1e9
    df.flatMap { d =>
      (1 to serveReps).map(_ => ctx.op("serve", timed)(
        ctx.span("maintainer.serve") {
          d.write.format("noop").mode("overwrite").save()
          d
        })).last
    }
  }

  def setup(): Unit = ctx.phase("warm") {
    drainOnce(timed = false)
    spark.catalog.clearCache()
  }

  def run(): Unit = {
    org.apache.spark.CdcBenchBridge.awaitListeners(spark.sparkContext)
    progressFrom = ctx.progress.all.size
    served = drainOnce(timed = true)
    org.apache.spark.CdcBenchBridge.awaitListeners(spark.sparkContext)
    progressTo = ctx.progress.all.size
  }

  def finish(): Unit = {
    val out = ctx.dir("served")
    served.foreach { d =>
      d.coalesce(1).write.mode("overwrite").parquet(out.resolve(family).toString)
      Files.writeString(out.resolve(s"$family.sql"), graft.SparkEntry.oracleSql(family))
    }
    ctx.diag("oracle_checks") = served.map(_ => family).toSeq
    ctx.diag(s"drain_s.$family") = drainS
  }

  private def batches = ctx.progress.all.slice(progressFrom, progressTo)

  def e2e: Map[String, Double] = metrics(Seq(batches.map(_.rows).sum.toDouble),
    "drain", Seq("serve"))

  override def layerExtras: Map[String, Double] = Map(
    "maintainer.batches" -> batches.size.toDouble,
    "maintainer.batch_ms" -> (if (batches.isEmpty) 0.0
      else batches.map(_.triggerMs.toDouble).sum / batches.size))
}
