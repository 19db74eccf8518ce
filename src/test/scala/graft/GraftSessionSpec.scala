package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.internal.{SQLConf, StaticSQLConf}

/** The session factory's contract: no session-wide config restates a
  * Spark default, [[GraftSession.scoped]] memoizes its child by the
  * child's effective conf without touching the caller, and
  * [[GraftSession.local]] starts one static-initialiser warm-up per
  * JVM that cannot break a session.
  */
class GraftSessionSpec extends SparkSpec {

  /** Keys without a fixed SQLConf default: the session time zone
    * defaults to the JVM's zone, which differs by machine, and the UI
    * switch is a core (SparkContext) config, on by default.
    */
  private val NotSqlDefaults =
    Set("spark.sql.session.timeZone", "spark.ui.enabled")

  test("no session config restates its Spark default") {
    // SQLConf's key → entry table is not public API; read it
    // reflectively and compare PARSED values ("64k" vs "1MB").
    // Static entries (the codegen cache size) register when
    // StaticSQLConf initialises; force that here, so the check does not
    // depend on an earlier suite having built a session.
    locally(StaticSQLConf)
    val entryOf = SQLConf.getClass.getMethod("getConfigEntry", classOf[String])
    val entryClass = entryOf.getReturnType
    val getConf = classOf[SQLConf].getMethod("getConf", entryClass)
    val parser = entryClass.getMethod("valueConverter")
    val fresh = new SQLConf
    val restated = GraftSession.SessionConf.filterNot {
      case (k, _) => NotSqlDefaults.contains(k)
    }.filter { case (k, v) =>
      val entry = entryOf.invoke(SQLConf, k)
      assert(entry != null, s"$k is not a SQLConf entry")
      parser.invoke(entry).asInstanceOf[String => Any](v) ==
        getConf.invoke(fresh, entry)
    }
    assert(restated.isEmpty, s"configs equal to Spark's default: $restated")
    assert(GraftSession.SessionConf.toMap.get("spark.ui.enabled")
      .contains("false"))
  }

  test("scoped: one child per effective conf, caller untouched") {
    val key = "spark.sql.shuffle.partitions"
    val orig = spark.conf.getAll
    val a = GraftSession.scoped(spark, Map(key -> "3"))
    assert(a ne spark)
    assert(a.conf.get(key) == "3")
    assert(GraftSession.scoped(spark, Map(key -> "3")) eq a)
    assert(GraftSession.scoped(spark, Map(key -> "5")) ne a)
    assert(spark.conf.getAll == orig)
    // A parent whose conf changed gets a fresh child carrying it.
    val probe = "spark.sql.autoBroadcastJoinThreshold"
    val prev = spark.conf.getAll.get(probe)
    spark.conf.set(probe, "12345")
    try {
      val b = GraftSession.scoped(spark, Map(key -> "3"))
      assert(b ne a)
      assert(b.conf.get(probe) == "12345")
    } finally prev match {
      case Some(v) => spark.conf.set(probe, v)
      case None => spark.conf.unset(probe)
    }
    assert(GraftSession.scoped(spark, Map(key -> "3")) eq a)
  }

  test("local starts one named daemon warm-up per JVM, which completes") {
    // Only local starts a warm-up, so one exists once local has run.
    GraftSession.local("4", "4")
    val w = GraftSession.warmup.getOrElse(fail("local started no warm-up"))
    GraftSession.local("4", "4")
    assert(GraftSession.warmup.exists(_ eq w))
    assert(w.thread.getName == "graft-clinit-warmup")
    assert(w.thread.isDaemon)
    w.thread.join(120000)
    assert(!w.thread.isAlive, "warm-up still running after 120 s")
    assert(w.failures.isEmpty, s"warm-up failed: ${w.failures}")
  }

  test("a failed warm-up names its class and sessions still work") {
    val w = new GraftSession.Warmup(Seq("graft.NoSuchInitialiser"))
    w.thread.join(60000)
    val lines = w.failures.asScala.toSeq
    assert(lines.size == 1 && lines.head.contains("graft.NoSuchInitialiser"),
      s"failures: $lines")
    val upper = GraftSession.local("4", "4").range(2)
      .selectExpr("upper(concat('ab', id)) AS u").orderBy("u")
      .collect().map(_.getString(0)).toSeq
    assert(upper == Seq("AB0", "AB1"))
  }
}
