package graft.plans

import graft.{SparkEntry, SparkTestBase}
import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}

import java.util.concurrent.atomic.AtomicLong

/** Spill-path pin: a 100 TB design that has never spilled is unproven.
  * PERF.md "Constrained-memory (spill) evidence" records the
  * constrained-heap evidence at replica scale; this spec pins the
  * MECHANISM deterministically — when an
  * operator's in-memory buffer crosses its spill threshold, execution
  * degrades to UnsafeExternalSorter disk spill and the result stays
  * bit-identical.
  *
  * The knob is `spark.sql.windowExec.buffer.spill.threshold` (a
  * runtime SQLConf): WindowExec's ExternalAppendOnlyUnsafeRowArray
  * converts to an UnsafeExternalSorter after N buffered rows per
  * partition, which is exactly the degradation a hot window key hits
  * at scale. */
class SpillSpec extends SparkTestBase {

  test("window buffer over threshold spills to disk with bit-identical " +
      "results") {
    val d = "/root/testdata/sf0.001"
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
    val run = () => SparkEntry.queries("w3_lag_rolling")(spark, d)
      .collect().toSeq
    val baseline = run()
    assert(baseline.nonEmpty)
    // both knobs matter: the buffer only CONVERTS to an
    // UnsafeExternalSorter past the in-memory threshold, and the
    // sorter only force-spills past the spill threshold
    val memKey = "spark.sql.windowExec.buffer.in.memory.threshold"
    val key = "spark.sql.windowExec.buffer.spill.threshold"
    spark.conf.set(memKey, "4")
    spark.conf.set(key, "8")
    try {
      memSpilled.set(0L); diskSpilled.set(0L)
      val spilledRun = run()
      // listener events drain asynchronously (listenerBus is
      // private[spark]) — poll until the spill shows up or 10 s pass
      val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
      while (memSpilled.get == 0 && diskSpilled.get == 0 &&
          System.nanoTime() < deadline)
        Thread.sleep(100)
      assert(spilledRun === baseline,
        "spilled execution must be bit-identical to the in-memory run")
      assert(memSpilled.get > 0 || diskSpilled.get > 0,
        s"expected task-metrics spill with $key=8 " +
          s"(mem=${memSpilled.get}, disk=${diskSpilled.get})")
    } finally { spark.conf.unset(key); spark.conf.unset(memKey) }
  }
}
