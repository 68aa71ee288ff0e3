package graft.cdc

import java.nio.file.{Files, Path}
import graft.SparkTestBase
import graft.Tables
import org.apache.spark.sql.functions._

/** Column RENAME as a metadata-only DDL ([[StateStore.renameColumn]]):
  * zero data files touched, pre-rename rows keep their values under
  * the new name, time travel at a pre-rename version surfaces the old
  * name, renames chain, and a retired name cannot be reintroduced.
  */
class SchemaRenameSpec extends SparkTestBase {

  private def listDataFiles(root: Path): Map[String, Long] = {
    val s = Files.walk(root)
    try {
      import scala.jdk.CollectionConverters._
      s.iterator().asScala
        .filter(p => p.toString.endsWith(".parquet"))
        .map(p => p.toString -> Files.getLastModifiedTime(p).toMillis)
        .toMap
    } finally s.close()
  }

  test("rename: zero rewrites, values preserved, time travel, chain, guard") {
    val wh = graft.Scratch.dir("graft-rename-spec-").toString
    val store = new StateStore(wh, nBuckets = 4)
    val target = "cdc.rename_spec"
    val pk = Seq("s_suppkey")
    val sup = Tables.load(spark, sf, "supplier")
    def wave(df: org.apache.spark.sql.DataFrame, ts: Long): Unit = {
      MergeCommit.mergeBatchMeta(store, target, df
        .withColumn(StateStore.TsCol, lit(ts))
        .withColumn(StateStore.SeqCol, col("s_suppkey").cast("long"))
        .withColumn(StateStore.DeletedCol, lit(false))
        .withColumn(StateStore.BucketCol, StateStore.bucketExpr(pk, 4)), pk)
      ()
    }
    wave(sup, 1000L)                                                // v0
    val root = java.nio.file.Paths.get(wh, "cdc.rename_spec")
    val before = listDataFiles(root)

    store.renameColumn(target, "s_name", "supplier_name")           // v1
    assert(listDataFiles(root) == before,
      "rename must not write, rewrite, or touch any data file")
    assert(Files.readString(root.resolve("manifest-1.tsv")) ==
      Files.readString(root.resolve("manifest-0.tsv")),
      "the rename version's manifest is a byte-identical carry-over")
    assert(store.schemaOf(target).fieldNames.contains("supplier_name") &&
      !store.schemaOf(target).fieldNames.contains("s_name"),
      "committed schema carries the new name")

    // Pre-rename rows keep their values under the new name.
    val n = sup.count()
    val st = store.currentState(spark, target)
    assert(st.filter(col("supplier_name").isNull).count() == 0,
      "no value was nulled by the rename")
    assert(st.count() == n)
    val expect = sup.select(col("s_suppkey"),
      col("s_name").as("supplier_name"))
    assert(st.select("s_suppkey", "supplier_name")
      .exceptAll(expect).count() == 0, "values are byte-identical")

    // Time travel BEFORE the rename surfaces the old name.
    val v0 = store.stateAt(spark, target, 0)
    assert(v0.columns.contains("s_name") &&
      !v0.columns.contains("supplier_name"),
      "pre-rename snapshots read under their committed (old) name")

    // Post-rename merge under the NEW name updates without nulling.
    wave(sup.filter(col("s_suppkey") % 3 === 0)
      .withColumn("s_name", concat(col("s_name"), lit(" v2")))
      .withColumnRenamed("s_name", "supplier_name"), 2000L)         // v2
    val st2 = store.currentState(spark, target)
    assert(st2.filter(col("supplier_name").isNull).count() == 0)
    assert(st2.filter(col("supplier_name").endsWith(" v2")).count() ==
      sup.filter(col("s_suppkey") % 3 === 0).count())

    // Chained rename: supplier_name -> vendor_name composes.
    store.renameColumn(target, "supplier_name", "vendor_name")      // v3
    val st3 = store.currentState(spark, target)
    assert(st3.filter(col("vendor_name").isNull).count() == 0,
      "chain a->b->c lands wave-1 files (written under a) on c")

    // Retired names are rejected: a batch reintroducing s_name fails
    // loudly at commit time, BEFORE any metadata is written.
    val headBefore = store.currentVersion(target)
    val err = intercept[Exception] {
      wave(sup.limit(5).withColumn("s_name", lit("ghost")), 3000L)
    }
    assert(err.getMessage.contains("renamed away"),
      s"got: ${err.getMessage}")
    assert(store.currentVersion(target) == headBefore,
      "the failed commit must not move the head")

    // Rename input validation.
    intercept[IllegalArgumentException] {
      store.renameColumn(target, "no_such_col", "x")
    }
    intercept[IllegalArgumentException] {
      store.renameColumn(target, "vendor_name", "s_acctbal")
    }
    intercept[IllegalArgumentException] {
      store.renameColumn(target, StateStore.TsCol, "tsx")
    }

    // CLONE of a renamed table: the clone's manifest reaches into the
    // source's pre-rename data dirs (old-name files); the carried
    // rename mappings must land those bytes on the current name, and
    // the retired-name guard must carry over too.
    store.cloneTable(target, "cdc.rename_clone")
    val cl = store.currentState(spark, "cdc.rename_clone")
    assert(cl.columns.contains("vendor_name"))
    assert(cl.filter(col("vendor_name").isNull).count() == 0,
      "clone reads of pre-rename source files must not null the " +
        "renamed column (the journal carries the mapping)")
    assert(cl.count() == n)
    val clErr = intercept[Exception] {
      wave2(store, "cdc.rename_clone",
        sup.limit(5).withColumn("s_name", lit("ghost")), 5000L)
    }
    assert(clErr.getMessage.contains("renamed away"),
      "the retired-name guard rides the carried journal into the clone")
  }

  /** RESTORE across a rename: rolling the head back past
    * `s_name→supplier_name` must read exactly like the restored
    * version — the rename's name mapping may not keep applying to the
    * old files under the old schema — and the restored name must stay
    * writable, not be rejected as retired.
    */
  test("restore across a rename reads like the restored version and stays writable") {
    val wh = graft.Scratch.dir("graft-renamerestore-spec-").toString
    val store = new StateStore(wh, nBuckets = 4)
    val target = "cdc.renamerestore_spec"
    val sup = Tables.load(spark, sf, "supplier").select("s_suppkey", "s_name")
    wave2(store, target, sup, 1000L)                               // v0
    store.renameColumn(target, "s_name", "supplier_name")          // v1
    store.restore(target, 0)                                       // v2
    def rows(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.collect().map(_.toString).sorted.toSeq
    val head = store.currentState(spark, target)
    val v0 = store.stateAt(spark, target, 0)
    assert(head.columns.toSeq == v0.columns.toSeq)
    assert(rows(head) == rows(v0),
      "the restored head must read exactly like the version it restores")
    wave2(store, target,
      sup.limit(3).withColumn("s_name", lit("after")), 2000L)      // v3
    assert(store.currentVersion(target) == 3)
    val st = store.currentState(spark, target)
    assert(st.filter(col("s_name").isNull).count() == 0)
    assert(st.filter(col("s_name") === "after").count() == 3)
    assert(st.count() == sup.count())
  }

  private def wave2(store: StateStore, target: String,
                    df: org.apache.spark.sql.DataFrame, ts: Long): Unit = {
    val pk = Seq("s_suppkey")
    MergeCommit.mergeBatchMeta(store, target, df
      .withColumn(StateStore.TsCol, lit(ts))
      .withColumn(StateStore.SeqCol, col("s_suppkey").cast("long"))
      .withColumn(StateStore.DeletedCol, lit(false))
      .withColumn(StateStore.BucketCol, StateStore.bucketExpr(pk, 4)), pk)
    ()
  }

  /** VERDICT r16 #1 — the rename-back brick: `a→b` then `b→a` is a
    * legal Iceberg DDL sequence; the chain-aware retired set must
    * revive `a`, and merges after EVERY link must commit green with
    * every file era reading under the right identity.
    */
  test("rename-back a->b->a stays writable and reads every era right") {
    val wh = graft.Scratch.dir("graft-renameback-spec-").toString
    val store = new StateStore(wh, nBuckets = 4)
    val target = "cdc.renameback_spec"
    val sup = Tables.load(spark, sf, "supplier")
    val n = sup.count()
    wave2(store, target, sup, 1000L)                               // v0
    store.renameColumn(target, "s_name", "supplier_name")          // v1
    wave2(store, target,
      sup.filter(col("s_suppkey") % 3 === 0)
        .withColumn("s_name", concat(col("s_name"), lit(" mid")))
        .withColumnRenamed("s_name", "supplier_name"), 2000L)      // v2
    store.renameColumn(target, "supplier_name", "s_name")          // v3 back
    assert(store.schemaOf(target).fieldNames.contains("s_name"))

    // The brick case: a merge AFTER the rename-back must commit —
    // s_name is the table's own current name, not a retired one.
    wave2(store, target,
      sup.filter(col("s_suppkey") % 5 === 0)
        .withColumn("s_name", concat(col("s_name"), lit(" post"))),
      3000L)                                                       // v4
    val st = store.currentState(spark, target)
    assert(st.count() == n)
    assert(st.filter(col("s_name").isNull).count() == 0,
      "no era's files may null under the round-tripped name")
    // Identity per era: %5 rows carry " post" (v4 files, revived
    // name), remaining %3 rows " mid" (v2 files, middle name), rest
    // original (v0 files, original name).
    val expect = sup.select(col("s_suppkey"),
      when(col("s_suppkey") % 5 === 0, concat(col("s_name"), lit(" post")))
        .when(col("s_suppkey") % 3 === 0, concat(col("s_name"), lit(" mid")))
        .otherwise(col("s_name")).as("s_name"))
    assert(st.select("s_suppkey", "s_name").exceptAll(expect).count() == 0,
      "each file era must bind its bytes to the round-tripped column")

    // Re-target a DIFFERENT column onto the now-retired middle name
    // (the c→a chain): legal, revives supplier_name for s_phone.
    store.renameColumn(target, "s_acctbal", "supplier_name")      // v5
    wave2(store, target,
      sup.filter(col("s_suppkey") % 7 === 0)
        .withColumnRenamed("s_acctbal", "supplier_name"), 4000L)   // v6
    val st2 = store.currentState(spark, target)
    assert(st2.filter(col("supplier_name").isNull).count() == 0,
      "pre-rename files must land s_phone bytes on the re-targeted name")
    val phones = sup.select(col("s_suppkey"),
      col("s_acctbal").as("supplier_name"))
    assert(st2.select("s_suppkey", "supplier_name")
      .exceptAll(phones).count() == 0,
      "the re-targeted name must carry the donor column's values, " +
        "never the name's previous occupant")
    // The %7 wave carried the ORIGINAL s_name, legitimately winning
    // latest-ts over the earlier suffix waves for overlapping keys.
    val expect2 = sup.select(col("s_suppkey"),
      when(col("s_suppkey") % 7 === 0, col("s_name"))
        .when(col("s_suppkey") % 5 === 0, concat(col("s_name"), lit(" post")))
        .when(col("s_suppkey") % 3 === 0, concat(col("s_name"), lit(" mid")))
        .otherwise(col("s_name")).as("s_name"))
    assert(st2.select("s_suppkey", "s_name").exceptAll(expect2).count() == 0,
      "the round-tripped column is undisturbed by the re-target")
  }

  /** Chains the presence-guarded fold cannot disambiguate (completing
    * a column SWAP through a temp name) are rejected loudly at DDL
    * time — sound swaps need field ids a name-mapped store lacks.
    */
  test("ambiguous swap-completion rename is rejected at DDL time") {
    val wh = graft.Scratch.dir("graft-renameswap-spec-").toString
    val store = new StateStore(wh, nBuckets = 4)
    val target = "cdc.renameswap_spec"
    val sup = Tables.load(spark, sf, "supplier")
    wave2(store, target, sup, 1000L)
    store.renameColumn(target, "s_name", "tmp_x")
    store.renameColumn(target, "s_acctbal", "s_name")
    val err = intercept[IllegalArgumentException] {
      store.renameColumn(target, "tmp_x", "s_acctbal")
    }
    assert(err.getMessage.contains("ambiguity"), s"got: ${err.getMessage}")
    // The table is NOT bricked by the rejection: merges still commit.
    wave2(store, target,
      sup.limit(7)
        .withColumnRenamed("s_name", "tmp_x")
        .withColumnRenamed("s_acctbal", "s_name"), 2000L)
    assert(store.currentState(spark, target)
      .filter(col("tmp_x").isNull || col("s_name").isNull).count() == 0)
  }

  /** ADVICE r16 — a crashed rename (journal line appended, pointer
    * never swapped) must not poison the version a later ordinary
    * commit claims: the read side drops rename lines whose version
    * published a DIFFERENT schema than the line embeds.
    */
  test("phantom rename journal line from a crashed rename is ignored") {
    val wh = graft.Scratch.dir("graft-renamephantom-spec-").toString
    val store = new StateStore(wh, nBuckets = 4)
    val target = "cdc.renamephantom_spec"
    val sup = Tables.load(spark, sf, "supplier")
    wave2(store, target, sup, 1000L)                               // v0
    // Simulate the crash window: a rename line at head+1 with the
    // schema the rename WOULD have committed, but no pointer swap.
    val head = store.currentVersion(target)
    val ghostSchema = org.apache.spark.sql.types.StructType(
      store.schemaOf(target).map(f =>
        if (f.name == "s_name") f.copy(name = "ghost_name") else f))
    Files.writeString(
      java.nio.file.Paths.get(wh, target, "schema-history.jsonl"),
      s"""{"version":${head + 1},"rename":{"from":"s_name","to":"ghost_name"},"schema":${ghostSchema.json}}""" + "\n",
      java.nio.file.StandardOpenOption.APPEND)
    // An ordinary commit claims head+1 and publishes its own schema.
    wave2(store, target,
      sup.limit(11).withColumn("s_name", lit("claimed")), 2000L)
    assert(store.currentVersion(target) == head + 1)
    assert(store.columnRenames(target, head + 1).isEmpty,
      "the phantom line's version published a different schema — it " +
        "must be dropped, not served as a live mapping")
    val st = store.currentState(spark, target)
    assert(st.columns.contains("s_name") && !st.columns.contains("ghost_name"))
    assert(st.filter(col("s_name").isNull).count() == 0)
    // And further merges under s_name are NOT rejected as retired.
    wave2(store, target, sup.limit(3), 3000L)
  }
}
