package graft.queries

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}
import java.util.UUID
import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession

/** The query board's session fixtures: one build per (recipe, sf dir),
  * private clones, retry after a failed build, nested builds. */
class SessionFixturesSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  /** A fresh sf-dir key, so no two tests (or real recipes) share a cell. */
  private def freshDir(): String = s"spec-${UUID.randomUUID()}"

  /** Relative path → bytes of every data file under `root` (the `.crc`
    * sidecars the Hadoop local file system writes beside a copy are
    * skipped). */
  private def tree(root: String): Map[String, Seq[Byte]] = {
    val r = Paths.get(root)
    val s = Files.walk(r)
    try s.iterator.asScala
      .filter(p => Files.isRegularFile(p) && !p.getFileName.toString.endsWith(".crc"))
      .map(p => r.relativize(p).toString -> Files.readAllBytes(p).toSeq)
      .toMap
    finally s.close()
  }

  private def write(p: Path, text: String): Unit = {
    Files.createDirectories(p.getParent)
    Files.write(p, text.getBytes(UTF_8))
    ()
  }

  test("a recipe's build runs once under 4 concurrent callers, all get " +
    "the same snapshot") {
    val dir = freshDir()
    val builds = new AtomicInteger()
    val go = new CountDownLatch(1)
    val pool = Executors.newFixedThreadPool(4)
    try {
      val calls = (1 to 4).map { _ =>
        pool.submit(() => {
          go.await()
          SessionFixtures.shared("spec_once", dir, Seq("a", "b")) { ds =>
            builds.incrementAndGet()
            Thread.sleep(200) // keep the build open while the others call
            ds.foreach(d => write(Paths.get(d, "f"), d))
          }
        })
      }
      go.countDown()
      val got = calls.map(_.get(60, TimeUnit.SECONDS))
      assert(builds.get == 1)
      assert(got.distinct.size == 1 && got.head.size == 2)
      assert(got.head.forall(d => Files.isRegularFile(Paths.get(d, "f"))))
    } finally pool.shutdownNow()
    // a later call in the session reuses the snapshot as well
    SessionFixtures.shared("spec_once", dir, Seq("a", "b"))(_ =>
      builds.incrementAndGet())
    assert(builds.get == 1)
  }

  test("writing into one clone leaves the snapshot and a second clone " +
    "byte-identical") {
    val dir = freshDir()
    def build(ds: Seq[String]): Unit = {
      write(Paths.get(ds(0), "manifest"), "v1")
      write(Paths.get(ds(0), "b=0", "part-0"), "postings")
      write(Paths.get(ds(0), "b=1", "part-0"), "more postings")
    }
    val Seq(snap) = SessionFixtures.shared("spec_clone", dir, Seq("idx"))(build)
    val before = tree(snap)
    assert(before.size == 3)
    val Seq(c1) = SessionFixtures.cloned(spark, "spec_clone", dir, Seq("idx"))(build)
    val Seq(c2) = SessionFixtures.cloned(spark, "spec_clone", dir, Seq("idx"))(build)
    assert(Set(snap, c1, c2).size == 3)
    assert(tree(c1) == before)
    write(Paths.get(c1, "manifest"), "v2")
    write(Paths.get(c1, "b=0", "part-1"), "new generation")
    Files.delete(Paths.get(c1, "b=1", "part-0"))
    assert(tree(c1) != before)
    assert(tree(snap) == before)
    assert(tree(c2) == before)
  }

  test("a build that throws is not cached: the next call builds again") {
    val dir = freshDir()
    val builds = new AtomicInteger()
    val e = intercept[IllegalStateException] {
      SessionFixtures.shared("spec_retry", dir, Seq("a")) { _ =>
        builds.incrementAndGet()
        throw new IllegalStateException("staging failed")
      }
    }
    assert(e.getMessage == "staging failed")
    val Seq(d) = SessionFixtures.shared("spec_retry", dir, Seq("a")) { ds =>
      builds.incrementAndGet()
      write(Paths.get(ds(0), "f"), "ok")
    }
    assert(builds.get == 2)
    assert(tree(d) == Map("f" -> "ok".getBytes(UTF_8).toSeq))
    SessionFixtures.shared("spec_retry", dir, Seq("a"))(_ =>
      builds.incrementAndGet())
    assert(builds.get == 2)
  }

  test("a build that asks for another fixture completes") {
    val dir = freshDir()
    val pool = Executors.newSingleThreadExecutor()
    try {
      val outer = pool.submit(() =>
        SessionFixtures.shared("spec_outer", dir, Seq("o")) { ds =>
          val Seq(inner) = SessionFixtures.shared("spec_inner", dir,
            Seq("i"))(is => write(Paths.get(is(0), "f"), "inner"))
          write(Paths.get(ds(0), "f"), new String(
            Files.readAllBytes(Paths.get(inner, "f")), UTF_8) + "+outer")
        })
      val Seq(o) = outer.get(60, TimeUnit.SECONDS)
      assert(tree(o) == Map("f" -> "inner+outer".getBytes(UTF_8).toSeq))
    } finally pool.shutdownNow()
  }

  test("q301_indexed_dedup_retract (clone, then mutate) twice in one " +
    "session: identical rows, one bootstrap") {
    val sf = "/root/testdata/sf0.001"
    val tmp = Paths.get(System.getProperty("java.io.tmpdir"))
    def snapDirs(): Int = {
      val s = Files.list(tmp)
      try s.iterator.asScala
        .count(_.getFileName.toString.startsWith("graft_xrt_snap_"))
      finally s.close()
    }
    val q301 = StreamingQueries.queries("q301_indexed_dedup_retract")
    val n0 = snapDirs()
    val first = q301(spark, sf).collect().toSeq
    val n1 = snapDirs()
    val second = q301(spark, sf).collect().toSeq
    assert(first.nonEmpty)
    assert(second == first)
    // at most one three-part bootstrap, and none on the second run
    assert(n1 - n0 <= 3)
    assert(snapDirs() == n1)
  }
}
