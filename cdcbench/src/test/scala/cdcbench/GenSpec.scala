package cdcbench

import java.nio.file.{Files, Path}

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

class GenSpec extends AnyFunSuite with BeforeAndAfterAll {

  private val sf = Seq("/root/testdata/sf0.001", "/root/testdata/sf0.1")
    .find(d => Files.isDirectory(Path.of(d))).get
  private lazy val spark = graft.Tables.localSession("2")
  private lazy val work = Files.createTempDirectory("cdcbench-gen-")

  override def afterAll(): Unit = {
    spark.stop()
    Gen.deleteTree(work)
  }

  private def stage(seed: Long, name: String): Seq[Array[Byte]] = {
    val tables = Seq(Gen.customer, Gen.part)
    val evs = tables.map(t => Gen.events(graft.Tables.load(spark, sf, t.name),
      t, seed, 3, 0.05, 3))
    Gen.writeWire(spark, evs, 3, work.resolve(name))
      .map(f => Files.readAllBytes(f.path))
  }

  test("one seed stages byte-identical wire files") {
    val a = stage(7, "a")
    val b = stage(7, "b")
    assert(a.map(_.length).sum > 0)
    assert(a.zip(b).forall { case (x, y) => java.util.Arrays.equals(x, y) })
  }

  test("another seed stages another log") {
    val a = stage(7, "c")
    val b = stage(8, "d")
    assert(!a.zip(b).forall { case (x, y) => java.util.Arrays.equals(x, y) })
  }

  test("staged events follow the requested mix and carry one table each") {
    val t = Gen.customer
    val base = graft.Tables.load(spark, sf, t.name)
    val evs = Gen.events(base, t, 11, 4, 0.5, 1)
    val ops = evs.groupBy("op").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val n = ops.values.sum.toDouble
    assert(ops("u") / n > 0.7 && ops("d") / n < 0.2 && ops("c") / n < 0.2)
    // A create inserts a key no fixture row has.
    val created = evs.filter("op = 'c'").selectExpr("after.c_custkey").collect()
      .map(_.getLong(0))
    assert(created.forall(_ >= Gen.NewKeyStride))
  }
}
