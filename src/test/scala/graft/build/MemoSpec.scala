package graft.build

import java.util.concurrent.CountDownLatch
import java.util.concurrent.atomic.AtomicInteger

import scala.concurrent.{Await, Future}
import scala.concurrent.ExecutionContext.Implicits.global
import scala.concurrent.duration._

import graft.SparkSpec

/** The one memo ([[DerivedCache.memo]]): one computation per (session, key,
  * version), one live entry per (session, key), and two kinds of version —
  * a table reader follows its own path's writes, a probe its corpus root's. */
class MemoSpec extends SparkSpec {
  import spark.implicits._

  private def fresh(tag: String) = s"/memo-$tag/${java.util.UUID.randomUUID()}"

  test("two threads forcing one key run compute once") {
    val key = fresh("race")
    val runs = new AtomicInteger
    val go = new CountDownLatch(1)
    val asks = (1 to 2).map(_ => Future {
      go.await()
      DerivedCache.memo(spark, key, 0L) { Thread.sleep(200); runs.incrementAndGet() }
    })
    go.countDown()
    assert(asks.map(Await.result(_, 1.minute)) == Seq(1, 1))
    assert(runs.get == 1, "the second thread must wait for the first one's cell")
  }

  test("a new version recomputes and leaves one entry for that key") {
    val key = fresh("version")
    assert(DerivedCache.memo(spark, key, 0L)("v0") == "v0")
    assert(DerivedCache.memo(spark, key, 0L)("recomputed") == "v0")
    assert(DerivedCache.memo(spark, key, 1L)("v1") == "v1")
    assert(DerivedCache.entries(spark, key) == 1)
  }

  test("an append re-reads its own table only; the root's probes recompute") {
    val d = fresh("tables")
    val (a, b) = (("a", 1), ("b", 1))
    DerivedCache.table(spark, d, a)(Seq(1L).toDF("id"))
    val bReader = DerivedCache.table(spark, d, b)(Seq(2L).toDF("id"))
    val aReader = DerivedCache.existing(spark, d, a)
    val probes = new AtomicInteger
    def rowsOfA(): Long = DerivedCache.scalar(spark, d, "rows.a") {
      probes.incrementAndGet()
      DerivedCache.existing(spark, d, a).count()
    }
    assert(rowsOfA() == 1 && rowsOfA() == 1 && probes.get == 1)

    DerivedCache.append(spark, d, a)(Seq(3L).toDF("id"))
    assert(DerivedCache.existing(spark, d, b) eq bReader,
      "a write to one table must not re-read another table")
    assert(!(DerivedCache.existing(spark, d, a) eq aReader))
    assert(rowsOfA() == 2 && probes.get == 2, "the root's probe must recompute")
  }
}
