package perfbench

import java.util.concurrent.atomic.{AtomicLong, DoubleAdder}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Spark runtime counters, fed by a SparkListener and a
  * QueryExecutionListener that only the traced passes register. */
final class Counters {
  val jobs, stages, tasks, queries = new AtomicLong
  val runMs, cpuNs, shuffleWrite, shuffleRead, spill, input, output =
    new AtomicLong
  val planMs = new DoubleAdder

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      jobs.incrementAndGet(); ()
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      stages.incrementAndGet(); ()
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      tasks.incrementAndGet()
      val m = e.taskMetrics
      if (m != null) {
        runMs.addAndGet(m.executorRunTime)
        cpuNs.addAndGet(m.executorCpuTime)
        shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        shuffleRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
        spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
        input.addAndGet(m.inputMetrics.bytesRead)
        output.addAndGet(m.outputMetrics.bytesWritten)
      }
      ()
    }
  }

  private val queryListener = new QueryExecutionListener {
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
      record(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit =
      record(qe)
    private def record(qe: QueryExecution): Unit = {
      queries.incrementAndGet()
      qe.tracker.phases.values.foreach(p => planMs.add(p.durationMs.toDouble))
    }
  }

  private var spark: SparkSession = _

  def attach(s: SparkSession): Unit = {
    spark = s
    s.sparkContext.addSparkListener(sparkListener)
    s.listenerManager.register(queryListener)
  }

  def detach(): Unit = if (spark != null) {
    drain()
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(queryListener)
    spark = null
  }

  /** Wait until every posted event reached the listeners. */
  def drain(): Unit =
    if (spark != null) org.apache.spark.perfbench.Bus.drain(spark.sparkContext)

  /** Current totals, after a drain, keyed by metric name. */
  def snapshot(): Map[String, Double] = {
    drain()
    Map(
      "jobs" -> jobs.get.toDouble, "stages" -> stages.get.toDouble,
      "tasks" -> tasks.get.toDouble, "queries" -> queries.get.toDouble,
      "exec_run_s" -> runMs.get / 1e3, "exec_cpu_s" -> cpuNs.get / 1e9,
      "shuffle_write_mb" -> shuffleWrite.get / 1e6,
      "shuffle_read_mb" -> shuffleRead.get / 1e6,
      "spill_mb" -> spill.get / 1e6, "input_mb" -> input.get / 1e6,
      "output_mb" -> output.get / 1e6, "plan_s" -> planMs.sum / 1e3)
  }
}

/** Times the benchmark's own calls into the engine. Every operation's
  * latency is always kept (the end-to-end op metrics need it); spans —
  * one per call, with parent, layer and job count — are kept only while
  * `traced` is on, in memory, and written out by the harness at exit. */
final class Recorder(runId: String, counters: Counters) {
  var traced = false
  var pass = -1
  var currentOp = ""
  val spans = ArrayBuffer.empty[Map[String, Any]]
  val ops = ArrayBuffer.empty[Map[String, Any]]
  val errors = ArrayBuffer.empty[Map[String, Any]]
  private var stack: List[Int] = Nil
  private var nextId = 0

  def span[T](layer: String, name: String)(f: => T): T =
    if (!traced) f
    else {
      val id = nextId
      nextId += 1
      val parent = stack.headOption.getOrElse(-1)
      stack = id :: stack
      val j0 = counters.jobs.get
      val t0 = System.nanoTime()
      try f
      finally {
        val t1 = System.nanoTime()
        stack = stack.tail
        counters.drain()
        spans += Map("run" -> runId, "pass" -> pass, "id" -> id,
          "parent" -> parent, "layer" -> layer, "name" -> name,
          "start_ns" -> t0, "end_ns" -> t1,
          "jobs" -> (counters.jobs.get - j0))
      }
    }

  /** One client operation: a harness-level span whose latency is always
    * recorded and whose failure is recorded instead of ending the pass. */
  def op(name: String)(f: => Unit): Unit = {
    currentOp = name
    val t0 = System.nanoTime()
    try span("bench", name)(f)
    catch {
      case e: Throwable =>
        errors += Map("pass" -> pass, "name" -> name,
          "error" -> s"${e.getClass.getName}: ${e.getMessage}".take(500))
    }
    ops += Map("pass" -> pass, "name" -> name,
      "s" -> (System.nanoTime() - t0) / 1e9)
  }
}
