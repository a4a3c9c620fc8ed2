package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession

import java.util.concurrent.atomic.AtomicLong

/** Constrained-memory probe: runs named queries under whatever heap /
  * `spark.memory.*` limits the caller set (build.sbt honors
  * `SPARK_DRIVER_MEM` and `SPARK_GRAFT_EXTRA_JAVA_OPTS`) and reports
  * per-query wall time plus the ACTUAL spill the task metrics saw —
  * the evidence that the operators degrade to disk instead of OOMing
  * when a 100 TB input doesn't fit executor memory.
  *
  *   SPARK_DRIVER_MEM=2g \
  *   SPARK_GRAFT_EXTRA_JAVA_OPTS="-Dspark.memory.fraction=0.2" \
  *   sbt "runMain graft.SpillProbe /tmp/sf0.5x x10_corpus_pipeline ..."
  *
  * Prints one JSON line per query:
  *   {"query":"…","sec":…,"spill_mem_mb":…,"spill_disk_mb":…,"ok":…}
  */
object SpillProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/tmp/sf0.5x"
    val names = if (args.length > 1) args.drop(1).toSeq
      else Seq("x10_corpus_pipeline", "x28_domain_budget",
        "a4_quantile_stats", "x22d_topic_fitted", "w6_scd2_history")
    val cpus = LocalCpus()
    // Per-task input = partition size: at a FIXED executor memory the
    // partition COUNT must scale with the input (the canonical cluster
    // operating rule — a 25x corpus over the same 32 partitions is 25x
    // the per-task state). This knob is that rule; see the PERF.md
    // round-9 spill rows for the measured OOM-vs-spill flip on q21.
    val shuffleParts = sys.env.getOrElse("SPARK_GRAFT_SHUFFLE", cpus)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", shuffleParts)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val memSpilled = new AtomicLong(0L)
    val diskSpilled = new AtomicLong(0L)
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
        val m = t.taskMetrics
        if (m != null) {
          memSpilled.addAndGet(m.memoryBytesSpilled)
          diskSpilled.addAndGet(m.diskBytesSpilled)
        }
      }
    })

    println(s"""{"probe":"spill","sf":"$sfDir","xmx_mb":${
      Runtime.getRuntime.maxMemory() / (1 << 20)},"mem_fraction":"${
      spark.conf.getOption("spark.memory.fraction").getOrElse("default")}"}""")
    names.foreach { name =>
      memSpilled.set(0L); diskSpilled.set(0L)
      val t0 = System.nanoTime()
      val ok =
        try {
          SparkEntry.all(name)(spark, sfDir)
            .write.format("noop").mode("overwrite").save()
          true
        } catch {
          case e: Throwable =>
            System.err.println(s"[spill] $name FAILED: ${e.getMessage}")
            false
        }
      val sec = (System.nanoTime() - t0) / 1e9
      // listener events drain asynchronously and a fixed sleep can
      // under-count on a loaded machine (events still in flight bleed
      // into the NEXT query after its reset) — poll until the counters
      // hold still, bounded by a 10 s deadline (the SpillSpec pattern;
      // listenerBus.waitUntilEmpty is private[spark])
      val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
      var prev = (-1L, -1L)
      var cur = (memSpilled.get, diskSpilled.get)
      while (cur != prev && System.nanoTime() < deadline) {
        prev = cur
        Thread.sleep(200)
        cur = (memSpilled.get, diskSpilled.get)
      }
      println(f"""{"query":"$name","sec":$sec%.2f,"spill_mem_mb":${
        memSpilled.get / (1 << 20)},"spill_disk_mb":${
        diskSpilled.get / (1 << 20)},"ok":$ok}""")
    }
    spark.stop()
  }
}
