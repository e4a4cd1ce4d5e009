package graft.util

import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import org.scalatest.funsuite.AnyFunSuite

/** The build-once memo, Spark-free: one build per key under contention,
  * nested resolution, no caching of a failed build, and one tmp dir per
  * distinct key. Each test uses keys no other test resolves. */
class ArtifactMemoSpec extends AnyFunSuite {

  private def freshKey(): String = java.util.UUID.randomUUID().toString

  test("8 threads resolving one key run its build exactly once") {
    val key = freshKey()
    val builds = new AtomicInteger()
    val start = new CountDownLatch(1)
    val pool = Executors.newFixedThreadPool(8)
    try {
      val results = (1 to 8).map { _ =>
        pool.submit(() => {
          start.await()
          ArtifactMemo.once("spec", key) {
            builds.incrementAndGet()
            Thread.sleep(50) // hold the build so the other threads queue
            "value"
          }
        })
      }
      start.countDown()
      assert(results.map(_.get(30, TimeUnit.SECONDS)).toSet === Set("value"))
      assert(builds.get() === 1)
    } finally pool.shutdownNow()
  }

  test("a build that resolves a second key inside itself returns both values") {
    val key = freshKey()
    val hits0 = ArtifactMemo.hits
    val outer = ArtifactMemo.once("spec-outer", key) {
      val inner = ArtifactMemo.once("spec-inner", key)(21)
      inner * 2 -> inner
    }
    assert(outer === (42 -> 21))
    assert(ArtifactMemo.hits === hits0) // both were builds
    assert(ArtifactMemo.once("spec-inner", key)(-1) === 21)
    assert(ArtifactMemo.hits === hits0 + 1)
  }

  test("builds counts completed builds only: not hits, not a build that throws") {
    val key = freshKey()
    val builds0 = ArtifactMemo.builds
    intercept[IllegalStateException] {
      ArtifactMemo.once[Int]("spec-count", key)(throw new IllegalStateException("fails"))
    }
    assert(ArtifactMemo.builds === builds0)
    assert(ArtifactMemo.once("spec-count", key)(1) === 1)
    assert(ArtifactMemo.builds === builds0 + 1)
    assert(ArtifactMemo.once("spec-count", key)(2) === 1)
    assert(ArtifactMemo.builds === builds0 + 1)
  }

  test("a build that throws is not cached: the next call builds again") {
    val key = freshKey()
    val builds = new AtomicInteger()
    val e = intercept[IllegalStateException] {
      ArtifactMemo.once[Int]("spec", key) {
        builds.incrementAndGet()
        throw new IllegalStateException("first build fails")
      }
    }
    assert(e.getMessage === "first build fails")
    assert(ArtifactMemo.once("spec", key) { builds.incrementAndGet(); 7 } === 7)
    assert(ArtifactMemo.once("spec", key) { builds.incrementAndGet(); 8 } === 7)
    assert(builds.get() === 2)
  }

  test("keys /data/sf0-1 and /data/sf0_1 get distinct directories") {
    val a = ArtifactMemo.dir("spec", "/data/sf0-1")
    val b = ArtifactMemo.dir("spec", "/data/sf0_1")
    assert(a !== b)
    // same sanitized stem, told apart by the digest of the raw key
    assert(a.dropRight(16) === b.dropRight(16))
    assert(ArtifactMemo.dir("spec", "/data/sf0-1") === a)
  }

  test("path writes once and dirsOf lists the built dirs of a fixture") {
    val fixture = "/spec/" + freshKey()
    val writes = new AtomicInteger()
    def write(out: String): Unit = {
      writes.incrementAndGet()
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(out))
    }
    val p1 = ArtifactMemo.path("spec-dir", fixture)(write)
    val p2 = ArtifactMemo.path("spec-dir", s"$fixture|k=3")(write)
    assert(ArtifactMemo.path("spec-dir", fixture)(write) === p1)
    assert(writes.get() === 2)
    try {
      assert(ArtifactMemo.dirsOf(fixture).toSet === Set(p1, p2))
      assert(ArtifactMemo.dirsOf(fixture + "x").isEmpty)
    } finally Seq(p1, p2).foreach(p =>
      java.nio.file.Files.deleteIfExists(java.nio.file.Paths.get(p)))
  }
}
