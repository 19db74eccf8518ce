package graft.text

import java.nio.file.Files

import graft.{SparkSpec, TempDirs}

/** Golden tests for the reference string_match (grep) intended
  * semantics (FIXTURES.md §2.2).
  */
class StringMatchSpec extends SparkSpec with TempDirs {

  test("relational form: case-insensitive contains, sorted by line") {
    import spark.implicits._
    val df = Seq(
      (0L, "English breakfast"),
      (1L, "nothing here"),
      (2L, "the ENGLISH channel"),
      (3L, "english!"),
      (4L, "ENGLIS truncated")).toDF("id", "line")
    val got = StringMatch(df, "id", "line", "English")
      .as[(Long, String)].collect().toList
    assert(got.map(_._1) == List(0L, 2L, 3L))
  }

  test("runTextFile: lineNo:line output, first/last line, absent pattern") {
    import scala.jdk.CollectionConverters._
    val tmp = tempDir("sm")
    val in = tmp.resolve("in.txt")
    Files.write(in,
      "english tea\nno match\nlate ENGLISH match".getBytes("UTF-8"))
    val out = tmp.resolve("out").toString
    StringMatch.runTextFile(spark, "english", in.toString, out)
    val parts = new java.io.File(out).listFiles()
      .filter(_.getName.startsWith("part-"))
    assert(parts.length == 1)
    val lines = Files.readAllLines(parts.head.toPath).asScala.toList
    assert(lines == List("0:english tea", "2:late ENGLISH match"))

    val out2 = tmp.resolve("out2").toString
    StringMatch.runTextFile(spark, "zzzz", in.toString, out2)
    val parts2 = new java.io.File(out2).listFiles()
      .filter(_.getName.startsWith("part-"))
    assert(parts2.forall(p => Files.readAllLines(p.toPath).isEmpty))
  }
}
