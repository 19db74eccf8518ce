package graft.text

import java.nio.file.Files

import graft.{SparkSpec, TempDirs}

/** Golden tests for the reference wordcount semantics
  * (FIXTURES.md §2.1): tokenizer char classes, apostrophe rule, case
  * folding, count-desc ordering with deterministic ties.
  */
class WordCountSpec extends SparkSpec with TempDirs {

  test("RefTokenizer: intended reference semantics") {
    assert(RefTokenizer.tokenize("don't stop").toList ==
      List("DON'T", "STOP"))
    // apostrophe only a word char AFTER a leading letter
    assert(RefTokenizer.tokenize("'tis the night").toList ==
      List("TIS", "THE", "NIGHT"))
    // digits & punctuation are separators; case folds
    assert(RefTokenizer.tokenize("Ab1cd,efG").toList ==
      List("AB", "CD", "EFG"))
    // non-ASCII is a separator under the reference's A-Z classes
    assert(RefTokenizer.tokenize("naïve").toList == List("NA", "VE"))
    assert(RefTokenizer.tokenize("").toList == Nil)
    // token terminating at end-of-input is still emitted
    assert(RefTokenizer.tokenize("end").toList == List("END"))
  }

  test("distributed form == RefTokenizer on Unicode case-mapping traps") {
    import spark.implicits._
    // upper('ı') = 'I' and upper('ß') = "SS": uppercase-then-extract
    // would manufacture ASCII letters from non-ASCII input. Both
    // tokenizers must treat these as separators instead.
    val lines = Seq("mınımal straße weiß", "İstanbul fußball ımıx", "plain text")
    val viaDf = WordCount(lines.toDF("text"), "text")
      .as[(String, Long)].collect().toMap
    val golden = lines.flatMap(RefTokenizer.tokenize)
      .groupBy(identity).view.mapValues(_.size.toLong).toMap
    assert(viaDf === golden)
  }

  test("mapReduceAgg (Aggregator fast path) equals the DataFrame form") {
    import org.apache.spark.sql.expressions.Aggregator
    import org.apache.spark.sql.{Encoder, Encoders}
    import spark.implicits._
    val sumAgg = new Aggregator[Int, Long, Long] {
      def zero: Long = 0L
      def reduce(b: Long, a: Int): Long = b + a
      def merge(b1: Long, b2: Long): Long = b1 + b2
      def finish(r: Long): Long = r
      def bufferEncoder: Encoder[Long] = Encoders.scalaLong
      def outputEncoder: Encoder[Long] = Encoders.scalaLong
    }
    val lines = graft.Tables(spark, sf, "documents")
      .select("text").as[String]
    val viaAgg = graft.core.MapReducePipeline
      .mapReduceAgg[String, Int, Long](
        lines, l => RefTokenizer.tokenize(l).map(w => (w, 1)), sumAgg)
      .collect().toMap
    val viaDf = WordCount(graft.Tables(spark, sf, "documents"), "text")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(viaAgg === viaDf)
  }

  test("wordcount DataFrame form matches golden counts") {
    import spark.implicits._
    val df = Seq(
      "The quick brown fox",
      "the lazy dog; THE end.",
      "don't don't 'tis 42").toDF("text")
    val got = WordCount(df, "text")
      .as[(String, Long)].collect().toList
    val expected = List(
      ("DON'T", 2L), ("THE", 3L)).sortBy(-_._2) // top by count
    assert(got.take(2) == List(("THE", 3L), ("DON'T", 2L)))
    // ties sorted by word asc
    val ones = got.dropWhile(_._2 > 1).map(_._1)
    assert(ones == ones.sorted)
    assert(got.map(_._2).sum ==
      df.as[String].collect().map(RefTokenizer.tokenize(_).size).sum)
  }

  test("DataFrame form ≡ typed MapReduce pipeline form") {
    import spark.implicits._
    val tmp = tempDir("wc").toFile
    val in = new java.io.File(tmp, "in.txt").getAbsolutePath
    Files.write(java.nio.file.Paths.get(in),
      "The quick brown fox\nthe lazy dog; THE end.\ndon't stop 'tis\n"
        .getBytes("UTF-8"))
    val viaDf = WordCount(spark.read.textFile(in).toDF("text"), "text")
      .as[(String, Long)].collect().toSet
    val viaPipeline = WordCount.viaPipeline(spark, in).collect().toSet
    assert(viaDf == viaPipeline)
  }

  test("runTextFile writes one sorted word\\tcount file") {
    import scala.jdk.CollectionConverters._
    val tmp = tempDir("wcout")
    val in = tmp.resolve("in.txt")
    Files.write(in, "b b b a a c\n".getBytes("UTF-8"))
    val out = tmp.resolve("out").toString
    WordCount.runTextFile(spark, in.toString, out)
    val parts = new java.io.File(out).listFiles()
      .filter(_.getName.startsWith("part-"))
    assert(parts.length == 1)
    val lines = Files.readAllLines(parts.head.toPath).asScala.toList
    assert(lines == List("B\t3", "A\t2", "C\t1"))
  }
}
