package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = GraftSession.fromEnv()
    new java.io.File(outDir).mkdirs()
    // SPARK_GRAFT_ONLY=q1,q2 restricts the dump (and the oracle json,
    // so tools/compare.py gates exactly the subset) — local-iteration
    // convenience, same contract as Bench's filter: set-but-EMPTY
    // means no filter (an empty set here would dump nothing and make
    // the differential gate pass vacuously on zero queries).
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
      .filter(_.nonEmpty)
    def keep(name: String): Boolean = only.forall(_.contains(name))
    // A failed query also lands in failures.txt (one `name<TAB>message`
    // line each; empty when nothing failed), so a dump names its own
    // gaps instead of leaving them to a grep of stderr.
    val failures = SparkEntry.queries.filter(e => keep(e._1)).toSeq
      .flatMap { case (name, fn) =>
        try {
          fn(spark, sfDir).coalesce(1).write.mode("overwrite")
            .parquet(s"$outDir/$name")
          None
        } catch { case e: Throwable =>
          System.err.println(s"[verify] $name failed: ${e.getMessage}")
          val msg = String.valueOf(e.getMessage).replaceAll("\\s+", " ")
          Some(s"$name\t$msg\n")
        }
      }
    Files.writeString(Paths.get(s"$outDir/failures.txt"),
      failures.mkString)
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql.filter(e => keep(e._1))
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
