package perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession

/** One benchmark run in one JVM, as a closed loop with one client:
  * a set-up (JVM start, session, one untimed warm-up pass), then timed
  * passes until `seconds` have elapsed. In a traced run, traced and
  * untraced passes interleave so the tracing overhead is measured in the
  * same run. Raw timings, counters, spans and the output list go to
  * `<work>/result.json`; run.py turns them into metrics.
  *
  * Arguments are `key=value`: workload, inputs, work, seconds, trace,
  * seed, cores, launch_ms, and the workload's own keys (rows,
  * queries, triggers). */
object Harness {
  def main(args: Array[String]): Unit = {
    val a = args.map { kv => val i = kv.indexOf('='); kv.take(i) -> kv.drop(i + 1) }.toMap
    val workload: Workload = a("workload") match {
      case "etl" => Etl
      case "curation" => Curation
      case "stream" => Stream
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    val work = a("work")
    val traced = a("trace") == "1"
    val cores = a("cores")
    val seconds = a("seconds").toDouble
    val launchMs = a("launch_ms").toLong
    val counters = new Counters
    val rec = new Recorder(s"${a("workload")}-${a("seed")}-$launchMs", counters)
    val os = ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
    val gcBeans = ManagementFactory.getGarbageCollectorMXBeans
    val jit = ManagementFactory.getCompilationMXBean
    def gcMs: Long = { var t = 0L; gcBeans.forEach(b => t += b.getCollectionTime); t }

    def session(): SparkSession = {
      val s = SparkSession.builder()
        .master(s"local[$cores]")
        .appName("perfbench")
        .config("spark.sql.shuffle.partitions", cores)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.extensions", "graft.plans.GraftExtensions")
        .config("spark.sql.warehouse.dir", s"$work/spark-warehouse")
        .config("spark.local.dir", s"$work/spark-local")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
      s.sparkContext.setLogLevel("ERROR")
      s
    }

    // set-up, from JVM launch: session start plus one untimed warm-up
    // pass, which also pays JIT, codegen and every memoized artifact
    val gc0 = gcMs
    val jit0 = jit.getTotalCompilationTime
    val spark = session()
    val ctx = new Ctx(spark, a("inputs"), work, a, rec, a("seed").toLong)
    workload.pass(ctx)
    val setup = Map("s" -> (System.currentTimeMillis() - launchMs) / 1e3,
      "gc_s" -> (gcMs - gc0) / 1e3,
      "jit_s" -> (jit.getTotalCompilationTime - jit0) / 1e3)
    rec.errors.clear()
    rec.ops.clear()
    ctx.outputs.clear()

    val passes = ArrayBuffer.empty[Map[String, Any]]
    val loopStart = System.nanoTime()
    var k = 0
    def elapsed = (System.nanoTime() - loopStart) / 1e9
    // closed loop: a minimum of passes, then another while it is
    // expected to end in time. A traced run orders its passes untraced,
    // traced, traced, untraced, … so that warm-up drift cancels out of
    // the overhead estimate.
    val minPasses = if (traced) 4 else 2
    while (k < minPasses || elapsed + medianWall(passes) <= seconds) {
      rec.pass = k
      rec.traced = traced && (k % 4 == 1 || k % 4 == 2)
      if (rec.traced) counters.attach(spark)
      val c0 = if (rec.traced) counters.snapshot() else Map.empty[String, Double]
      val gc0 = gcMs
      val jit0 = jit.getTotalCompilationTime
      val cpu0 = os.getProcessCpuTime
      val t0 = System.nanoTime()
      workload.pass(ctx)
      val wall = (System.nanoTime() - t0) / 1e9
      val cpu = (os.getProcessCpuTime - cpu0) / 1e9
      val spark1 = if (rec.traced) {
        val c1 = counters.snapshot()
        counters.detach()
        c1.map { case (key, v) => key -> (v - c0(key)) }
      } else Map.empty[String, Double]
      val gcS = (gcMs - gc0) / 1e3
      val jitS = (jit.getTotalCompilationTime - jit0) / 1e3
      // the heap the program still holds once the pass is over, outside
      // the timed region. The first full collection hands Spark's
      // ContextCleaner the broadcasts and shuffles the pass dropped; it
      // frees their blocks asynchronously, so the second one, after a
      // pause, leaves only the live set.
      System.gc()
      Thread.sleep(300)
      System.gc()
      val liveMb = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
      passes += Map("pass" -> k, "traced" -> rec.traced, "wall_s" -> wall,
        "cpu_s" -> cpu, "gc_s" -> gcS, "jit_s" -> jitS, "live_heap_mb" -> liveMb,
        "spark" -> spark1)
      k += 1
    }
    spark.stop()

    val oracles = ctx.outputs.map(o => o("name").toString).distinct.flatMap {
      case "stream_view" =>
        Some("stream_view" -> graft.SparkEntry.oracleSql("st10_stream_clusters"))
      case n => graft.SparkEntry.oracleSql.get(n).map(n -> _)
    }.toMap
    val result = Map(
      "workload" -> a("workload"), "cores" -> cores.toInt,
      "oracle_sql" -> oracles,
      "setup" -> setup, "passes" -> passes.toSeq,
      "ops" -> rec.ops.toSeq, "errors" -> rec.errors.toSeq,
      "outputs" -> ctx.outputs.toSeq, "peak_rss_mb" -> peakRssMb())
    write(s"$work/result.json", Json(result))
    if (traced)
      write(s"$work/trace.jsonl", rec.spans.map(Json(_)).mkString("", "\n", "\n"))
  }

  private def medianWall(ps: collection.Seq[Map[String, Any]]): Double = {
    val w = ps.map(_("wall_s").asInstanceOf[Double]).sorted
    if (w.isEmpty) 0.0 else w(w.size / 2)
  }

  /** VmHWM: the process's resident-set high-water mark. */
  private def peakRssMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024.0
  }

  private def write(path: String, s: String): Unit =
    Files.write(Paths.get(path), s.getBytes(StandardCharsets.UTF_8))
}

/** Minimal JSON rendering of maps, sequences, strings and numbers. */
object Json {
  def apply(v: Any): String = v match {
    case null => "null"
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Number => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
    case x => quote(x.toString)
  }

  private def quote(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < 0x20 => f"\\u${c.toInt}%04x"
    case c => c.toString
  }.mkString("\"", "", "\"")
}
