package graft

import java.nio.file.{Files, Path}
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

/** Scratch-space contract (VERDICT r12 "what's wrong" #1): every
  * temp dir the engine mints nests under ONE per-process root that a
  * shutdown hook deletes — a process leaves /tmp as it found it. The
  * keyed forms own each `(prefix, key)` dir's lifetime: `fresh` empties
  * it per call, `staged` fills it once.
  */
class ScratchSpec extends SparkTestBase {

  private def entries(d: Path): Seq[Path] = {
    val s = Files.list(d)
    try s.iterator().asScala.toList finally s.close()
  }

  test("dir() nests under the per-process root and keeps its prefix") {
    val before = Scratch.count()
    val d = Scratch.dir("graft-spec-probe-")
    assert(Files.exists(d))
    assert(d.getParent == Scratch.root)
    assert(d.getFileName.toString.startsWith("graft-spec-probe-"))
    assert(Scratch.count() == before + 1)
  }

  test("root lives directly in the system temp dir, not nested scratch") {
    val sysTmp = java.nio.file.Paths
      .get(System.getProperty("java.io.tmpdir")).toAbsolutePath.normalize
    assert(Scratch.root.toAbsolutePath.normalize.getParent == sysTmp)
    assert(Scratch.root.getFileName.toString.startsWith("graft-run-"))
  }

  test("bytes() sums file sizes under the root") {
    val d = Scratch.dir("graft-spec-bytes-")
    val before = Scratch.bytes()
    Files.write(d.resolve("probe.bin"), Array.fill[Byte](4096)(1))
    assert(Scratch.bytes() >= before + 4096)
  }

  test("fresh() keeps one dir per (prefix, key), under the root, " +
      "named with the prefix") {
    val a = Scratch.fresh("graft-spec-fresh-", "k1")
    assert(Scratch.fresh("graft-spec-fresh-", "k1") == a)
    val b = Scratch.fresh("graft-spec-fresh-", "k2")
    val c = Scratch.fresh("graft-spec-fresh2-", "k1")
    assert(Set(a, b, c).size == 3, s"new pairs must get new dirs: $a $b $c")
    Seq(a, b, c).foreach { d =>
      assert(Files.isDirectory(d))
      assert(d.getParent == Scratch.root)
    }
    assert(a.getFileName.toString.startsWith("graft-spec-fresh-"))
    assert(c.getFileName.toString.startsWith("graft-spec-fresh2-"))
    assert(Scratch.keyed("graft-spec-fresh-", "k1") == a)
  }

  test("fresh() empties nested files and dirs but keeps the dir") {
    val d = Scratch.fresh("graft-spec-wipe-", "k")
    Files.createDirectories(d.resolve("a/b/c"))
    Files.write(d.resolve("a/b/c/leaf.bin"), Array[Byte](1, 2, 3))
    Files.write(d.resolve("top.txt"), Array[Byte](4))
    assert(entries(d).size == 2)
    assert(Scratch.fresh("graft-spec-wipe-", "k") == d)
    assert(Files.isDirectory(d), "fresh must keep the dir itself")
    assert(entries(d).isEmpty, s"fresh left ${entries(d)}")
  }

  test("staged() runs write once across 8 concurrent callers") {
    val runs = new AtomicInteger(0)
    val dirs = Par.awaitAll((1 to 8).map { _ =>
      Par.future {
        Scratch.staged("graft-spec-staged-", "race") { d =>
          runs.incrementAndGet()
          Thread.sleep(200) // hold the write open so the callers overlap
          Files.write(d.resolve("payload.txt"), Array[Byte](7))
        }
      }
    })
    assert(runs.get == 1, s"write ran ${runs.get} times")
    assert(dirs.toSet.size == 1)
    assert(entries(dirs.head).map(_.getFileName.toString) ==
      Seq("payload.txt"))
  }

  test("a staged() write that throws is run again, into an empty dir") {
    val seen = scala.collection.mutable.Buffer.empty[Seq[Path]]
    def attempt(fail: Boolean): Path =
      Scratch.staged("graft-spec-retry-", "k") { d =>
        seen += entries(d)
        Files.write(d.resolve("half-written.bin"), Array[Byte](1))
        if (fail) throw new IllegalStateException("disk full")
      }
    intercept[IllegalStateException](attempt(fail = true))
    val d = attempt(fail = false)
    assert(seen.size == 2, "the failed write must not be remembered")
    assert(seen(1).isEmpty, s"retry saw debris: ${seen(1)}")
    assert(attempt(fail = true) == d, "a completed write is remembered")
    assert(seen.size == 2)
  }

  test("orderedSlices stages one dir whose files list in slice order " +
      "by mtime") {
    import spark.implicits._
    val n = 4
    val slices = (0 until n).map(i => Seq(i, i + 10).toDF("v"))
    val before = Scratch.count()
    val d = Scratch.staged("graft-spec-slices-", "k")(
      Scratch.orderedSlices(slices, _))
    assert(Scratch.count() == before + 1, "slice temp dirs must not linger")
    val files = entries(d).sortBy(Files.getLastModifiedTime(_).toMillis)
    assert(files.map(_.getFileName.toString) ==
      (0 until n).map(i => f"b$i%02d.parquet"))
    files.zipWithIndex.foreach { case (f, i) =>
      val vs = spark.read.parquet(f.toString).as[Int].collect().sorted.toSeq
      assert(vs == Seq(i, i + 10), s"$f holds $vs")
    }
  }

  test("delete() removes a tree, counts every entry, and skips a " +
      "missing path") {
    val d = Scratch.dir("graft-spec-delete-")
    Files.createDirectories(d.resolve("x/y"))
    Files.write(d.resolve("x/y/f.bin"), Array[Byte](1))
    Files.write(d.resolve("g.bin"), Array[Byte](2))
    assert(Scratch.delete(d) == 5) // d, x, y, f.bin, g.bin
    assert(!Files.exists(d))
    assert(Scratch.delete(d) == 0)
  }
}
