package perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.{GraftSession, SparkEntry}
import graft.operators.Lineage

/** The benchmark's JVM side. It drives `SparkEntry.queries` from the
  * outside and records raw observations; `perfbench/run.py` turns them
  * into metrics.
  *
  * Arguments (all `--key value`):
  *   launch-ms  epoch ms at which the launcher started this JVM
  *   cores      local[N] core count
  *   out        directory for run.json, oracle_sql.json, spans.jsonl
  *              and results/
  *   setup-only 1: create the session, record setup time, exit
  *   data       fixture directory
  *   queries    comma-separated query names, run in this order
  *   warmup     how many untimed warm-up passes run first
  *   seconds    how long the measured warm passes run at least
  *   passes     how many measured warm passes run at least
  *   trace      1: record spans and Spark counters
  *
  * A run is: a cold pass (first use of every store) through the `noop`
  * sink; then `warmup` (at least 1) untimed warm-up passes, the first
  * of which writes each result as parquet for the oracle check; then
  * measured warm passes through `noop` until both `passes` passes have
  * run and `seconds` have elapsed. Pinned storage is read after the
  * warm-up and after the `passes`-th measured pass, so it does not
  * depend on how many passes fit in `seconds`. With tracing on,
  * measured passes alternate untraced and traced, so the tracing
  * overhead is measured on the same session.
  */
object Harness {
  final case class Pass(label: String, traced: Boolean, wall: Double,
      cpu: Double, times: Seq[(String, Double)],
      errors: Seq[(String, String)], counts: Map[String, Double])

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect {
      case Array(k, v) => k.stripPrefix("--") -> v
    }.toMap
    val out = Paths.get(opt("out"))
    Files.createDirectories(out)
    val trace = opt.get("trace").contains("1")
    val extra =
      if (trace) Map("spark.sql.queryExecutionListeners" ->
        classOf[PlanListener].getName)
      else Map.empty[String, String]
    val spark = GraftSession.local(opt("cores"), opt("cores"), extra)
    val setupS = (System.currentTimeMillis() - opt("launch-ms").toLong) / 1e3
    val code =
      try {
        if (opt.get("setup-only").contains("1"))
          write(out.resolve("setup.json"), Json.obj(Seq("setup_s" -> setupS)))
        else {
          val result = run(spark, opt("data"), opt("queries").split(',').toSeq,
            opt("warmup").toInt, opt("seconds").toDouble, opt("passes").toInt,
            trace, out)
          write(out.resolve("run.json"),
            Json.obj(Seq("setup_s" -> setupS) ++ result))
        }
        0
      } catch { case t: Throwable => t.printStackTrace(); 1 }
    // The launcher removes this run's directories and stores, so the
    // JVM skips Spark's shutdown and ends at once.
    Runtime.getRuntime.halt(code)
  }

  private def run(spark: SparkSession, data: String, names: Seq[String],
      warmup: Int, seconds: Double, passes: Int, trace: Boolean,
      out: Path): Seq[(String, Any)] = {
    val sc = spark.sparkContext
    val registry = SparkEntry.queries
    val fns = names.map(n => n -> registry.getOrElse(n,
      throw new IllegalArgumentException(s"unknown query $n")))
    val modules = fns.map { case (n, f) => n -> moduleOf(f) }.toMap
    var passSpan = -1
    val probe = new JobProbe(() => passSpan)
    val osBean = ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]

    def noop(n: String, df: DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()

    def setTracing(on: Boolean): Unit = {
      org.apache.spark.perfbench.ListenerBus.drain(sc)
      if (on) sc.addSparkListener(probe) else sc.removeSparkListener(probe)
      Trace.plansOn = on
    }

    def pass(label: String, traced: Boolean,
        sink: (String, DataFrame) => Unit): Pass = {
      if (traced) setTracing(true)
      passSpan = Trace.newId()
      val start = Clock.now()
      val cpu0 = osBean.getProcessCpuTime
      val t0 = System.nanoTime()
      val errors = mutable.ArrayBuffer.empty[(String, String)]
      val times = fns.map { case (n, fn) =>
        val id = Trace.newId()
        sc.setLocalProperty(Trace.SpanKey, id.toString)
        sc.setLocalProperty(Trace.QueryKey, n)
        val s0 = Clock.now()
        val q0 = System.nanoTime()
        try sink(n, fn(spark, data))
        catch { case t: Throwable => errors += n -> describe(t) }
        val sec = (System.nanoTime() - q0) / 1e9
        if (trace) Trace.record(Span(id, n, modules(n), s0, s0 + sec,
          passSpan, n))
        n -> sec
      }
      sc.setLocalProperty(Trace.SpanKey, null)
      sc.setLocalProperty(Trace.QueryKey, null)
      val wall = (System.nanoTime() - t0) / 1e9
      val cpu = (osBean.getProcessCpuTime - cpu0) / 1e9
      if (trace) Trace.record(Span(passSpan, label, "harness", start,
        start + wall, -1, ""))
      val counts =
        if (traced) { setTracing(false); Trace.takeCounts() }
        else Map.empty[String, Double]
      Pass(label, traced, wall, cpu, times, errors.toSeq, counts)
    }

    val results = out.resolve("results")
    val keys0 = Lineage.keys(spark)
    val build0 = Lineage.buildSeconds(spark).values.sum
    val cold = pass("cold", trace, noop)
    val keys1 = Lineage.keys(spark)
    val build1 = Lineage.buildSeconds(spark).values.sum

    val warmups = (1 to warmup).map { i =>
      if (i > 1) pass("warmup", false, noop)
      else pass("warmup", false, (n, df) =>
        df.write.mode("overwrite").parquet(results.resolve(n).toString))
    }
    val pinnedFirst = pinnedMb(spark)
    val warm = mutable.ArrayBuffer.empty[Pass]
    var pinnedLast = pinnedFirst
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    while (warm.size < passes || System.nanoTime() < deadline) {
      val traced = trace && warm.size % 2 == 1
      warm += pass(if (traced) "warm.traced" else "warm", traced, noop)
      if (warm.size == passes) pinnedLast = pinnedMb(spark)
    }
    val keys2 = Lineage.keys(spark)

    val oracles = SparkEntry.oracleSql
    write(out.resolve("oracle_sql.json"),
      Json.obj(names.flatMap(n => oracles.get(n).map(n -> _))))
    if (trace) write(out.resolve("spans.jsonl"),
      Trace.allSpans.map(_.toJson).mkString("", "\n", "\n"))

    def passJson(p: Pass) = Map(
      "label" -> p.label, "traced" -> p.traced, "wall_s" -> p.wall,
      "cpu_s" -> p.cpu,
      "times" -> mutable.LinkedHashMap(p.times: _*),
      "errors" -> mutable.LinkedHashMap(p.errors: _*),
      "counts" -> p.counts)
    Seq(
      "cores" -> sc.defaultParallelism,
      "passes" -> passes,
      "modules" -> modules,
      "cold" -> passJson(cold),
      "warmup" -> warmups.map(passJson),
      "warm" -> warm.map(passJson),
      "pinned_mb" -> Map("first" -> pinnedFirst, "last" -> pinnedLast),
      "lineage" -> Map(
        "stores_built" -> (keys1 -- keys0).size,
        "build_s" -> (build1 - build0),
        "warm_rebuilds" -> (keys2 -- keys1).size),
      "rss_peak_mb" -> rssPeakMb())
  }

  /** The registry module of a query: the package of the object whose
    * query map declares it (its function's enclosing class).
    */
  private def moduleOf(f: AnyRef): String =
    f.getClass.getName.split('.') match {
      case Array("graft", m, _, _*) => m
      case _ => "graft"
    }

  /** Block-manager storage (memory plus disk) still held by cached RDDs
    * once the driver has collected garbage and `ContextCleaner` has
    * released the blocks of unreachable RDDs: what the session pins,
    * independent of when the collector last ran.
    */
  private def pinnedMb(spark: SparkSession): Double = {
    def now() = spark.sparkContext.getRDDStorageInfo
      .map(i => i.memSize + i.diskSize).sum / (1024.0 * 1024.0)
    System.gc()
    var (last, stable, polls) = (now(), 0, 0)
    while (stable < 3 && polls < 50) {
      Thread.sleep(50)
      val cur = now()
      stable = if (cur == last) stable + 1 else 0
      last = cur
      polls += 1
    }
    last
  }

  private def rssPeakMb(): Double = {
    val status = new String(
      Files.readAllBytes(Paths.get("/proc/self/status")), UTF_8)
    status.linesIterator.collectFirst {
      case l if l.startsWith("VmHWM:") =>
        l.split("\\s+")(1).toDouble / 1024.0
    }.getOrElse(0.0)
  }

  private def describe(t: Throwable): String =
    s"${t.getClass.getSimpleName}: " +
      String.valueOf(t.getMessage).linesIterator.take(1).mkString.take(300)

  private def write(p: Path, s: String): Unit = Files.write(p, s.getBytes(UTF_8))
}
