package graft.util

import java.util.concurrent.{Callable, CountDownLatch, Executors, TimeUnit}

import graft.{SparkEntry, SparkSuite}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Scoped fence ownership: a scope frees exactly the blocks registered in
  * it — not another thread's, not an enclosing scope's — and frees them
  * when its body throws. */
class FenceSpec extends SparkSuite {

  private val sf = "/root/testdata/sf0.001"

  /** Whether the cache manager still holds `df`'s persisted plan. */
  private def isCached(df: DataFrame): Boolean = df.storageLevel != StorageLevel.NONE

  /** `body` on a fresh thread, which has no scope open. */
  private def onThread[T](pool: java.util.concurrent.ExecutorService)(body: => T) =
    pool.submit(new Callable[T] { def call(): T = body })

  test("scope B ending while scope A's checkpointed feed_influence has not " +
      "run its action leaves A's blocks and result intact") {
    val pool = Executors.newFixedThreadPool(2)
    try {
      val query = SparkEntry.queries("feed_influence")
      val want = onThread(pool)(query(spark, sf).collect().toSeq).get(120, TimeUnit.SECONDS)
      val built = new CountDownLatch(1)
      val released = new CountDownLatch(1)
      val a = onThread(pool)(Fence.scope {
        val df = query(spark, sf) // PageRank checkpoints eagerly, in A's scope
        val checkpoints = df.queryExecution.analyzed.collectLeaves()
          .collect { case lr: LogicalRDD => lr.rdd.id }
        built.countDown()
        assert(released.await(120, TimeUnit.SECONDS))
        val live = spark.sparkContext.getPersistentRDDs.keySet
        (checkpoints.filterNot(live), df.collect().toSeq)
      })
      val b = onThread(pool) {
        Fence.scope {
          Fence.checkpointed(spark.range(11).toDF("b")).count()
          assert(built.await(120, TimeUnit.SECONDS))
        }
        released.countDown()
      }
      b.get(120, TimeUnit.SECONDS)
      val (dropped, got) = a.get(120, TimeUnit.SECONDS)
      assert(dropped.isEmpty, "B's scope exit unpersisted A's checkpoint blocks")
      assert(got === want)
      assert(got.nonEmpty)
    } finally pool.shutdownNow()
  }

  test("a nested scope frees only its own frames; the outer scope's cached " +
      "frame stays in the cache manager") {
    Fence.scope {
      val outer = Fence.cached(spark.range(101).toDF("outer"))
      outer.count()
      val inner = Fence.scope {
        val f = Fence.cached(spark.range(53).toDF("inner"))
        f.count()
        f
      }
      assert(!isCached(inner))
      assert(isCached(outer))
      assert(outer.count() === 101L)
    }
  }

  test("a body that throws still frees its frames") {
    var cached: DataFrame = null
    intercept[IllegalStateException] {
      Fence.scope {
        cached = Fence.cached(spark.range(37).toDF("thrown"))
        cached.count()
        throw new IllegalStateException("body failed")
      }
    }
    assert(!isCached(cached))
  }

  test("Pca.fit frees its cached moments frame when an action throws") {
    val embeddings = spark.range(8).select(col("id").as("vec_id"),
      when(col("id") === 3, raise_error(lit("bad vector")))
        .otherwise(array(lit(1f), lit(2f))).as("embedding"))
    val before = spark.sparkContext.getPersistentRDDs.keySet
    intercept[Exception](graft.ext.Pca.fit(embeddings))
    val leaked = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(leaked.isEmpty, s"persisted RDDs left behind: $leaked")
  }
}
