package graft.cdc

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import graft.SparkTestBase
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The merge-on-read layout: delta commits ([[MergeCommit.mergeFlattened]]
  * without slices) chain their buckets, and every reader resolves the
  * chains to the latest-(ts, seq)-wins state — checked against a
  * reference computed without [[Merge]] (a `row_number()` window over
  * every event applied), after every commit, for every live version,
  * and through every operation that reads, rewrites or reaches chains.
  */
class DeltaLayoutSpec extends SparkTestBase {
  import spark.implicits._

  /** One event: key, value, the widened column (None before it
    * exists), op, ts, seq.
    */
  private final case class Ev(k: Long, v: Long, w: Option[Double], op: String,
                              ts: Long, seq: Long)

  /** Seeded batches: out-of-order timestamps within a batch (each
    * batch newer than the last, so each commits as a delta), duplicate
    * keys within a batch, deletes and re-inserts; batch 3 widens the row
    * with `w`.
    */
  private def batches(seed: Long): Seq[Seq[Ev]] = {
    val rnd = new scala.util.Random(seed)
    var seq = 0L
    (0 until 6).map { b =>
      (0 until 40).map { _ =>
        seq += 1
        val k = rnd.nextInt(30).toLong
        val op = if (rnd.nextInt(5) == 0) Envelope.OpDelete
          else Envelope.OpUpdate
        Ev(k, rnd.nextInt(1000).toLong,
          if (b >= 3) Some(rnd.nextDouble()) else None, op,
          10000L * (b + 1) + rnd.nextInt(3000), seq)
      }
    }
  }

  private val Pk = Seq("k")

  /** A flattened slice of `evs`; with `w` once any event carries it. */
  private def slice(evs: Seq[Ev]): DataFrame = {
    val wide = evs.exists(_.w.nonEmpty)
    val df = evs.map(e => (e.k, e.v, e.w, e.op, e.ts, e.seq))
      .toDF("k", "v", "w", "op", "ts_ms", "seq")
    val (row, rowType) =
      if (wide) (struct(col("k"), col("v"), col("w")),
        "struct<k:bigint,v:bigint,w:double>")
      else (struct(col("k"), col("v")), "struct<k:bigint,v:bigint>")
    Envelope.flatten(df.select(lit(null).cast(rowType).as("before"),
      row.as("after"), col("op"), col("ts_ms"), col("seq"),
      struct(lit("s").as("schema"), lit("t").as("table")).as("source")))
  }

  /** Latest-wins raw rows over `evs`, tombstones kept, by window. */
  private def reference(evs: Seq[Ev]): Seq[String] =
    evs.map(e => (e.k, e.v, e.w, e.op == Envelope.OpDelete, e.ts, e.seq))
      .toDF("k", "v", "w", "_deleted", "_ts_ms", "_seq")
      .withColumn("rn", row_number().over(Window.partitionBy("k")
        .orderBy(col("_ts_ms").desc, col("_seq").desc)))
      .filter(col("rn") === 1).drop("rn")
      .collect().map(fmt).toSeq.sorted

  private def fmt(r: Row): String = {
    val w = if (r.schema.fieldNames.contains("w")) r.getAs[Any]("w") else null
    s"${r.getAs[Long]("k")},${r.getAs[Long]("v")},$w," +
      s"${r.getAs[Boolean]("_deleted")},${r.getAs[Long]("_ts_ms")}," +
      s"${r.getAs[Long]("_seq")}"
  }

  private def rows(df: DataFrame): Seq[String] = df.collect().map(fmt).toSeq.sorted

  private def liveRows(df: DataFrame): Seq[String] =
    df.collect().map(r => s"${r.getAs[Long]("k")},${r.getAs[Long]("v")}")
      .toSeq.sorted

  private def live(ref: Seq[String]): Seq[String] = ref.filter(_.split(",")(3) == "false")
    .map(l => l.split(",").take(2).mkString(",")).sorted

  private def freshStore(): StateStore =
    new StateStore(graft.Scratch.dir("graft-delta-layout-").toString, 4)

  private val T = "d.t"

  /** The manifest's bucket lines, split: bucket, base, deltas. */
  private def bucketLines(store: StateStore, v: Int): Seq[Seq[String]] =
    Files.readAllLines(Paths.get(store.warehouse, T, s"manifest-$v.tsv"))
      .asScala.map(_.split("\t").toSeq).filter(_.head.forall(_.isDigit)).toSeq

  private def chainLengths(store: StateStore, v: Int): Seq[Int] =
    bucketLines(store, v).map(_.length - 1)

  /** Every state read of `store` against the reference of the events
    * each live version applied.
    */
  private def checkAll(store: StateStore, applied: Map[Int, Seq[Ev]]): Unit = {
    val head = store.currentVersion(T)
    assert(rows(store.rawState(spark, T)) == reference(applied(head)),
      s"rawState at v$head")
    assert(liveRows(store.currentState(spark, T)) == live(reference(applied(head))),
      s"currentState at v$head")
    store.versions(T).foreach { v =>
      assert(liveRows(store.stateAt(spark, T, v)) == live(reference(applied(v))),
        s"stateAt v$v")
    }
  }

  /** Apply `groups` of batches, one delta commit per group. */
  private def applyAll(store: StateStore, groups: Seq[Seq[Seq[Ev]]])
      : Map[Int, Seq[Ev]] =
    groups.foldLeft((Map.empty[Int, Seq[Ev]], Seq.empty[Ev])) {
      case ((applied, so), group) =>
        val evs = group.flatten
        val r = MergeCommit.mergeFlattened(store, T, slice(evs), Pk).get
        val now = applied + (r.version -> (so ++ evs))
        checkAll(store, now)
        (now, so ++ evs)
    }._1

  test("delta commits, one batch and two batches at a time, read as the " +
      "latest-wins reference after every commit, and chains fold") {
    val bs = batches(7L)
    val one = freshStore()
    applyAll(one, bs.map(Seq(_)))
    // Four deltas on the v0 bases, then the fold of the fifth write.
    assert(chainLengths(one, 4).max == 5)
    assert(chainLengths(one, 5).max == 1)
    val two = freshStore()
    applyAll(two, bs.grouped(2).toSeq)
    assert(chainLengths(two, 2).max == 3)
  }

  test("a chained read resolves in its scan: no exchange in the plan") {
    val store = freshStore()
    applyAll(store, batches(5L).take(3).map(Seq(_)))
    assert(chainLengths(store, store.currentVersion(T)).max == 3)
    Seq(store.rawState(spark, T), store.currentState(spark, T),
        store.stateAt(spark, T, 1),
        store.currentState(spark, T).filter(col("k") === 7L)).foreach { df =>
      val plan = df.queryExecution.sparkPlan.toString
      assert(!plan.contains("Exchange"), plan)
    }
  }

  test("a delta commit of k events writes k rows and runs no bucket " +
      "collect job") {
    val store = freshStore()
    val n = 200L
    MergeCommit.mergeFlattened(store, T, slice((0L until n).map(k =>
      Ev(k, k, None, Envelope.OpUpdate, 1000L, k))), Pk)
    val written = new java.util.concurrent.atomic.AtomicLong()
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
        Option(e.taskMetrics).foreach(m =>
          written.addAndGet(m.outputMetrics.recordsWritten))
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (e.stageInfos.exists(_.name.startsWith("collect"))) jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      MergeCommit.mergeFlattened(store, T, slice(Seq(
        Ev(3L, 30L, None, Envelope.OpUpdate, 2000L, 1L),
        Ev(4L, 40L, None, Envelope.OpDelete, 2000L, 2L),
        Ev(5L, 50L, None, Envelope.OpUpdate, 2000L, 3L))), Pk)
      // Listener events arrive asynchronously.
      val deadline = System.currentTimeMillis() + 10000L
      while (written.get < 3L && System.currentTimeMillis() < deadline)
        Thread.sleep(50)
      Thread.sleep(500)
    } finally spark.sparkContext.removeSparkListener(listener)
    assert(written.get === 3L)
    assert(jobs.get === 0, "a delta commit collects no bucket set")
    assert(store.currentState(spark, T).count() === n - 1)
  }

  /** Top-level data dirs (`v<K>`, `purge-v<K>`) of the table. */
  private def dataDirs(store: StateStore): Set[String] =
    Files.list(Paths.get(store.warehouse, T)).iterator().asScala
      .filter(Files.isDirectory(_)).map(_.getFileName.toString).toSet

  /** Top-level dirs the manifests of `versions` reach. */
  private def reached(store: StateStore, versions: Seq[Int]): Set[String] =
    versions.flatMap(v =>
      bucketLines(store, v).flatMap(_.tail.map(_.split("/")(0)))).toSet

  test("chained buckets through clone, restore, rename, WAP publish and " +
      "drop, optimistic commit, a crash, vacuum, purge and compaction") {
    val bs = batches(11L)
    val store = freshStore()
    val applied = applyAll(store, bs.take(3).map(Seq(_)))
    assert(chainLengths(store, 2).max == 3)
    var so = applied(2)
    def ref = reference(so)

    // Clone reads the chains through the source's dirs.
    store.cloneTable(T, "d.clone")
    assert(rows(store.rawState(spark, "d.clone")) == ref)

    // Restore to v0, then back to the chained head.
    store.restore(T, 0)
    assert(rows(store.rawState(spark, T)) == reference(applied(0)))
    store.restore(T, 2)
    assert(rows(store.rawState(spark, T)) == ref)

    // Rename: a metadata-only version; chained reads keep every value.
    store.renameColumn(T, "v", "v2")
    val renamed = store.currentState(spark, T).withColumnRenamed("v2", "v")
    assert(liveRows(renamed) == live(ref))
    store.renameColumn(T, "v2", "v")
    assert(rows(store.rawState(spark, T)) == ref)

    // WAP: stage (a rewrite) then publish, stage then drop.
    val staged = MergeCommit.mergeFlattened(store, T, slice(bs(3)), Pk,
      stage = true).get.version
    store.publishStaged(T, staged)
    so = so ++ bs(3)
    assert(rows(store.rawState(spark, T)) == ref)
    assert(chainLengths(store, staged).max == 1)
    val dropped = MergeCommit.mergeFlattened(store, T, slice(bs(4)), Pk,
      stage = true).get.version
    store.dropStaged(T, dropped)
    assert(rows(store.rawState(spark, T)) == ref)

    // A delta on top (pinned by a tag), then an optimistic rewrite.
    val tagged = MergeCommit.mergeFlattened(store, T, slice(bs(4)), Pk).get.version
    so = so ++ bs(4)
    val atTag = ref
    assert(rows(store.rawState(spark, T)) == ref)
    store.createRef(T, "tagged", tagged)
    store.commitOptimistic(spark, T) { _ =>
      val meta = MergeCommit.toBatchMeta(
        Merge.compactKeepTombstones(slice(bs(5)), Pk), Pk, store.nBuckets)
      val state = store.rawState(spark, T)
      (Merge.mergeOrdered(SchemaEvolution.align(state, meta),
        SchemaEvolution.align(meta, state), Pk), 0 until 4)
    }
    so = so ++ bs(5)
    assert(rows(store.rawState(spark, T)) == ref)
    assert(chainLengths(store, store.currentVersion(T)).max == 1)

    // A crash inside atomically: the retry runs on the pre-batch state.
    val next = batches(13L).last.map(e => e.copy(ts = e.ts + 100000L))
    intercept[IllegalStateException] {
      store.atomically(Seq(T)) {
        MergeCommit.mergeFlattened(store, T, slice(next), Pk)
        throw new IllegalStateException("crash")
      }
    }
    store.atomically(Seq(T)) {
      MergeCommit.mergeFlattened(store, T, slice(next), Pk)
    }
    so = so ++ next
    assert(rows(store.rawState(spark, T)) == ref)
    assert(chainLengths(store, store.currentVersion(T)).max == 2)

    // A late batch — events older than the state's — is no delta: the
    // rewrite merges it into the buckets it touches, and most of its
    // events lose.
    val late = batches(13L).head
    val lateV = MergeCommit.mergeFlattened(store, T, slice(late), Pk).get.version
    so = so ++ late
    assert(rows(store.rawState(spark, T)) == ref)
    assert(bucketLines(store, lateV).forall(l =>
      l.tail == Seq(s"v$lateV/_bucket=${l.head}")), "every touched chain rewritten")

    // Vacuum, the clone detached: exactly the dirs that neither the
    // head nor the tag reaches go, and both still read.
    store.compactTable(spark, "d.clone")
    store.vacuum("d.clone", keepVersions = 1)
    val before = dataDirs(store)
    store.expireSnapshots(T, retainLast = Some(1))
    val keep = reached(store, Seq(tagged, store.currentVersion(T)))
    assert(before != keep, "precondition: some dir was reclaimable")
    assert(dataDirs(store) == before.intersect(keep))
    assert(rows(store.rawState(spark, T)) == ref)
    assert(liveRows(store.stateAt(spark, T, tagged)) == live(atTag))

    // Purge erases the keys from every retained version, chains included.
    val gone = Set(1L, 2L, 3L)
    def erased(r: Seq[String]) = r.filterNot(l => gone(l.split(",")(0).toLong))
    store.purgeKeys(spark, T, "k", gone.toSeq)
    assert(rows(store.rawState(spark, T)) == erased(ref))
    assert(liveRows(store.stateAt(spark, T, tagged)) == live(erased(atTag)))

    // Compaction folds every chain into a base.
    store.compactTable(spark, T)
    assert(chainLengths(store, store.currentVersion(T)).max == 1)
    assert(rows(store.rawState(spark, T)) == erased(ref))
  }
}
