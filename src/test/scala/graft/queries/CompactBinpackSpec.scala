package graft.queries

import graft.SparkTestBase
import graft.cdc.StateStore
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Test => ScTest}

import java.nio.file.{Files, Paths}

/** Selective-compaction contracts beyond the oracle's data equality.
  * The query pins the VERSION-LAG criterion (each `ok` is a distinct
  * filesystem invariant); the FILE-COUNT criterion — inert in the
  * query because AQE packs merge output at fixture scale — is pinned
  * here with a deliberately fragmented 3-file bucket.
  */
class CompactBinpackSpec extends SparkTestBase {

  test("all four lag-criterion lifecycle steps hold") {
    val rows = MaintenanceQueries.maintenanceCompactBinpack(spark, sf)
      .collect()
      .map(r => r.getString(0) ->
        (r.getLong(1), r.getDouble(2), r.getBoolean(3))).toMap
    assert(rows.keySet === Set("binpack", "noop", "selective", "vacuumed"))
    rows.foreach { case (step, (_, _, ok)) =>
      assert(ok, s"step '$step' invariant must hold")
    }
    val (n3, b3, _) = rows("binpack")
    val (n4, b4, _) = rows("selective")
    assert(n3 === n4, "the single-key update changes no row count")
    assert(math.abs(b4 - b3 - 10.0) < 1e-6,
      "the key-45 +10 wave moves the balance checksum by exactly 10")
  }

  test("file-count criterion packs a forced 3-file bucket to one file") {
    val wh = graft.Scratch.dir("graft-binpack-spec-").toString
    val store = new StateStore(wh, nBuckets = 4)
    val target = "t"
    def filesIn(entry: String): Long = {
      val s = Files.list(Paths.get(wh, target).resolve(entry))
      try s.filter(_.getFileName.toString.endsWith(".parquet")).count()
      finally s.close()
    }
    // 30 rows forced into bucket 0 across 3 round-robin partitions →
    // the commit lands bucket 0 as a 3-file dir (explicit repartition
    // is exempt from AQE coalescing).
    val df = graft.Tables.load(spark, sf, "customer").limit(30)
      .withColumn(StateStore.TsCol, lit(1000L))
      .withColumn(StateStore.SeqCol, col("c_custkey").cast("long"))
      .withColumn(StateStore.DeletedCol, lit(false))
      .withColumn(StateStore.BucketCol, lit(0))
      .repartition(3)
    store.commit(spark, target, df, Seq(0))
    assert(filesIn(store.manifest(target)(0)) === 3L,
      "precondition: the bucket dir must be fragmented into 3 files")
    val sumBefore = store.currentState(spark, target)
      .agg(count(lit(1)), round(sum("c_acctbal"), 2)).head()

    val (v, rewritten) =
      store.compactBinpack(spark, target, targetFilesPerBucket = 1,
        maxVersionLag = 99)
    assert(v === 1 && rewritten === Seq(0),
      "exactly the fragmented bucket rewrites")
    assert(filesIn(store.manifest(target)(0)) === 1L,
      "the rewritten bucket is packed to one file")
    val sumAfter = store.currentState(spark, target)
      .agg(count(lit(1)), round(sum("c_acctbal"), 2)).head()
    assert(sumBefore === sumAfter, "packing changes no data")

    val (v2, again) =
      store.compactBinpack(spark, target, targetFilesPerBucket = 1,
        maxVersionLag = 99)
    assert(v2 === v && again.isEmpty, "a packed table is a no-op")
  }

  test("compactTable rewrites every bucket dir to one file") {
    val wh = graft.Scratch.dir("graft-compact-spec-").toString
    val store = new StateStore(wh, nBuckets = 4)
    val target = "t"
    def filesPerBucket(): Map[Int, Long] =
      store.manifest(target).map { case (b, entry) =>
        val s = Files.list(Paths.get(wh, target).resolve(entry))
        try b -> s.filter(_.getFileName.toString.endsWith(".parquet")).count()
        finally s.close()
      }
    // 40 rows over 4 buckets from 3 round-robin partitions: each bucket
    // dir lands as up to 3 files.
    val df = graft.Tables.load(spark, sf, "customer").limit(40)
      .withColumn(StateStore.TsCol, lit(1000L))
      .withColumn(StateStore.SeqCol, col("c_custkey").cast("long"))
      .withColumn(StateStore.DeletedCol, lit(false))
      .withColumn(StateStore.BucketCol,
        StateStore.bucketExpr(Seq("c_custkey"), 4))
      .repartition(3)
    store.commit(spark, target, df, 0 until 4)
    assert(filesPerBucket().values.max > 1L,
      "precondition: some bucket dir must be fragmented")
    val before = store.currentState(spark, target)
      .collect().map(_.toString).sorted.toSeq

    val v = store.compactTable(spark, target)
    assert(v === 1)
    assert(filesPerBucket() === (0 until 4).map(_ -> 1L).toMap,
      "every compacted bucket dir holds one file")
    assert(store.currentState(spark, target)
      .collect().map(_.toString).sorted.toSeq === before,
      "compaction changes no data")
  }

  /** Model-based property: random upsert/delete waves with binpack
    * passes interleaved at random points must leave EXACTLY the
    * latest-wins state a plain in-memory map computes — compaction is
    * pure layout, never semantics, at every interleaving point (the
    * MergeSpec slicing-invariance discipline extended to maintenance).
    */
  test("interleaved merges and binpacks preserve latest-wins state") {
    import spark.implicits._
    val genWave = Gen.mapOf(for {
      k <- Gen.chooseNum(0L, 9L)
      v <- Gen.chooseNum(0, 999)
      del <- Gen.frequency((4, false), (1, true))
    } yield k -> (v.toDouble, del))
    val gen = for {
      waves <- Gen.listOfN(4, genWave)
      packAfter <- Gen.listOfN(4, Gen.oneOf(true, false))
    } yield (waves, packAfter)
    val prop = Prop.forAll(gen) { case (waves, packAfter) =>
      val wh = graft.Scratch.dir("graft-binpack-prop-").toString
      val store = new StateStore(wh, nBuckets = 4)
      val target = "t"
      var model = Map.empty[Long, (Double, Boolean)]
      waves.zipWithIndex.foreach { case (wave, i) =>
        if (wave.nonEmpty) {
          val df = wave.toSeq.map { case (k, (v, del)) => (k, v, del) }
            .toDF("key", "value", "del")
            .withColumn(StateStore.TsCol, lit(1000L + i))
            .withColumn(StateStore.SeqCol, col("key"))
            .withColumn(StateStore.DeletedCol, col("del"))
            .drop("del")
            .withColumn(StateStore.BucketCol,
              StateStore.bucketExpr(Seq("key"), 4))
          graft.cdc.MergeCommit.mergeBatchMeta(store, target, df, Seq("key"))
          model = model ++ wave
        }
        if (packAfter(i) && store.exists(target))
          store.compactBinpack(spark, target, targetFilesPerBucket = 1,
            maxVersionLag = 2)
      }
      val got =
        if (!store.exists(target)) Map.empty[Long, Double]
        else store.currentState(spark, target).collect()
          .map(r => r.getAs[Long]("key") -> r.getAs[Double]("value")).toMap
      val want = model.collect { case (k, (v, false)) => k -> v }
      got == want
    }
    val res = ScTest.check(
      ScTest.Parameters.default.withMinSuccessfulTests(6), prop)
    assert(res.passed, res.status.toString)
  }
}
