package graft.operators

import scala.concurrent.{Await, Future}
import scala.concurrent.duration._
import scala.concurrent.ExecutionContext.Implicits.global

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** `Fixpoint.scoped` runs a loop on a child session with its own
  * shuffle-partition count and AQE off; the caller's session is never
  * touched. These tests pin (a) correct results from two genuinely
  * concurrent scoped loops, (b) the caller's conf unchanged while a
  * loop is running, (c) loop frames planned at the scoped partition
  * count with AQE off, and (d) a nested scope never raising the outer
  * count.
  */
class FixpointConcurrencySpec extends SparkSpec {

  private val Key = "spark.sql.shuffle.partitions"
  private val AqeKey = "spark.sql.adaptive.enabled"

  test("two concurrent scoped loops: correct results") {
    def scopedSum(mod: Int): Long =
      Fixpoint.scoped(spark, 100L) { cs =>
        // A couple of rounds of shuffle work inside the scope, with a
        // sleep so the two futures genuinely overlap their scopes.
        Thread.sleep(50)
        val df = cs.range(0, 1000)
          .select((col("id") % mod).as("k"), col("id").as("v"))
          .groupBy("k").agg(sum("v").as("s"))
        Thread.sleep(50)
        df.agg(sum("s")).head().getLong(0)
      }
    val fa = Future(scopedSum(7))
    val fb = Future(scopedSum(13))
    val (a, b) = (Await.result(fa, 60.seconds), Await.result(fb, 60.seconds))
    val expect = (0L until 1000L).sum
    assert(a == expect && b == expect)
  }

  // A caller with more partitions than the scope's floor of 8, so the
  // scope visibly lowers the count.
  private def caller = graft.GraftSession.scoped(spark, Map(Key -> "16"))

  test("the caller's conf, read inside the loop body, is unchanged") {
    val orig = caller.conf.getAll
    val inside = Fixpoint.scoped(caller, 1L) { cs =>
      assert(cs ne caller)
      caller.conf.getAll
    }
    assert(inside == orig)
  }

  test("loop frames run at the scoped partition count with AQE off") {
    Fixpoint.scoped(caller, 1L) { cs =>
      assert(cs.conf.get(Key) == "8" && cs.conf.get(AqeKey) == "false")
      val df = cs.range(0, 1000).groupBy((col("id") % 5).as("k")).count()
      assert(df.rdd.getNumPartitions == 8)
      assert(!df.queryExecution.executedPlan.toString
        .contains("AdaptiveSparkPlan"))
    }
    assert(caller.conf.get(Key) == "16" && caller.conf.get(AqeKey) == "true")
  }

  test("a nested scope never raises the outer count") {
    Fixpoint.scoped(caller, 1L) { outer =>
      val outerParts = outer.conf.get(Key).toLong
      assert(outerParts < 16)
      // A huge row count asks for the caller's full count; the inner
      // scope's caller is the outer child, so it is capped there.
      Fixpoint.scoped(outer, 100000000L) { inner =>
        assert(inner.conf.get(Key).toLong <= outerParts)
      }
      assert(outer.conf.get(Key).toLong == outerParts)
    }
  }
}
