package graft.core

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Gates for `s4_sharded_sink` beyond the DuckDB hash: the write
  * really sharded (more than one part file at a surplus of rows over
  * partitions), and the shards are DISJOINT, MONOTONE key ranges —
  * max key of shard i < min key of shard i+1 — which is the
  * concatenation contract stated directly rather than via line_no
  * reconstruction.
  */
class ShardedSinkSpec extends SparkSpec {

  test("sharded sink: multiple shards with disjoint monotone ranges") {
    val res = ShardedSinkGate.shardedSink(spark, sf)
    assert(res.count() > 0)

    val out = StoreRoot.path(spark, "sharded", sf) + "/out"
    val shards = spark.sparkContext.wholeTextFiles(s"$out/part-*")
      .map { case (file, content) =>
        val id = "part-(\\d+)".r.findFirstMatchIn(file).get.group(1).toLong
        val keys = content.split("\n").filter(_.nonEmpty).map { l =>
          val f = l.split(" "); (f(0).toLong, f(1).toLong)
        }
        (id, keys.min, keys.max, keys.length)
      }.collect().sortBy(_._1)

    assert(shards.length > 1,
      s"expected a sharded write, got ${shards.length} part file(s)")
    shards.foreach { case (id, lo, hi, n) =>
      assert(n > 0, s"shard $id is empty")
      assert(Ordering[(Long, Long)].lteq(lo, hi))
    }
    shards.sliding(2).foreach {
      case Array((ia, _, hiA, _), (ib, loB, _, _)) =>
        assert(Ordering[(Long, Long)].lt(hiA, loB),
          s"shards $ia and $ib overlap or invert: max($ia)=$hiA >= min($ib)=$loB")
      case _ => ()
    }
  }
}
