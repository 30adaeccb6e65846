package graft.sources

import java.util.concurrent.{CountDownLatch, FutureTask, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestSession

/** The staged-store memo every gate fixture and parquet artifact goes
  * through ([[ArtifactStore.staged]] over [[SessionMemo]]).
  */
class ArtifactStoreSpec extends AnyFunSuite with SparkTestSession {

  /** A name no other test stages, so its temp dirs can be counted. */
  private def freshName(tag: String): String =
    s"spec_${tag}_${java.util.UUID.randomUUID().toString.take(8)}"

  /** Temp dirs the store created for `name` that still exist. */
  private def stagedDirs(name: String): Seq[java.nio.file.Path] = {
    import scala.jdk.CollectionConverters._
    val tmp = java.nio.file.Paths.get(System.getProperty("java.io.tmpdir"))
    val s = java.nio.file.Files.list(tmp)
    try s.iterator().asScala
      .filter(_.getFileName.toString.startsWith(s"graft_${name}_")).toSeq
    finally s.close()
  }

  test("repeated calls with one (session, dir, name) fill once into one directory") {
    val name = freshName("once")
    val fills = new AtomicInteger()
    val first = ArtifactStore.staged(spark, "/in/a", name) { o =>
      fills.incrementAndGet(); o
    }
    val second = ArtifactStore.staged(spark, "/in/a", name) { o =>
      fills.incrementAndGet(); o
    }
    assert(fills.get == 1)
    assert(first == second)
    assert(stagedDirs(name).map(_.toString) == Seq(first))
    // another input dir is another store
    val other = ArtifactStore.stagedDir(spark, "/in/b", name)(_ => ())
    assert(other != first && stagedDirs(name).size == 2)
  }

  test("a failed fill memoizes nothing and leaves no directory") {
    val name = freshName("fail")
    var seen = ""
    val e = intercept[IllegalStateException] {
      ArtifactStore.staged(spark, "/in/a", name) { o =>
        seen = o
        java.nio.file.Files.createDirectories(java.nio.file.Paths.get(o, "sub", "tree"))
        throw new IllegalStateException("fill failed")
      }
    }
    assert(e.getMessage == "fill failed")
    assert(seen.nonEmpty && !java.nio.file.Files.exists(java.nio.file.Paths.get(seen)))
    assert(stagedDirs(name).isEmpty)
    val fills = new AtomicInteger()
    val retried = ArtifactStore.staged(spark, "/in/a", name) { o =>
      fills.incrementAndGet(); o
    }
    assert(fills.get == 1 && retried != seen)
    assert(stagedDirs(name).map(_.toString) == Seq(retried))
  }

  test("a fill blocked on one key does not block a call for another key") {
    val (nameA, nameB) = (freshName("blockedA"), freshName("freeB"))
    val entered = new CountDownLatch(1)
    val release = new CountDownLatch(1)
    val a = new FutureTask(() => ArtifactStore.staged(spark, "/in/a", nameA) { _ =>
      entered.countDown()
      release.await()
      "a"
    })
    new Thread(a, "staged-a").start()
    try {
      assert(entered.await(60, TimeUnit.SECONDS), "fill A never started")
      val b = new FutureTask(() =>
        ArtifactStore.staged(spark, "/in/a", nameB)(_ => "b"))
      new Thread(b, "staged-b").start()
      assert(b.get(60, TimeUnit.SECONDS) == "b")
      assert(!a.isDone, "fill A finished before its latch was released")
    } finally release.countDown()
    assert(a.get(60, TimeUnit.SECONDS) == "a")
  }
}
