package graftbench

import scala.collection.mutable

import org.apache.spark.BenchBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval. `parent` is the id of the enclosing span, -1 at
  * the root of an operation; `op` is the operation's sequence number. */
final case class Span(id: Int, name: String, startMs: Double, endMs: Double,
    parent: Int, op: Long) {
  def layer: String = name.takeWhile(_ != '.')
  def durMs: Double = endMs - startMs
}

/** Spans and counters of the traced run, kept in memory until the run
  * ends. The benchmark opens spans around every public graft call it
  * makes; a SparkListener and a QueryExecutionListener add Spark jobs,
  * task totals, planning phases and file-scan counts. After each
  * operation the listener bus is drained, so every event lands on the
  * operation that was current when it was posted. */
final class Tracer(spark: SparkSession) {
  private val t0Ns = System.nanoTime()
  private val t0Ms = System.currentTimeMillis().toDouble
  def nowMs: Double = t0Ms + (System.nanoTime() - t0Ns) / 1e6

  val spans = mutable.ArrayBuffer.empty[Span]
  /** counters(op)(name); op -1 collects work outside any operation. */
  val counters = mutable.Map.empty[Long, mutable.Map[String, Double]]
  @volatile private var current: Long = -1L
  private val open = mutable.Stack.empty[(Int, String, Double)]
  private var nextId = 0

  def add(op: Long, key: String, v: Double): Unit = synchronized {
    val m = counters.getOrElseUpdate(op, mutable.Map.empty)
    m(key) = m.getOrElse(key, 0.0) + v
  }
  def add(key: String, v: Double): Unit = add(current, key, v)

  private def record(name: String, s: Double, e: Double, parent: Int): Int =
    synchronized {
      val id = nextId; nextId += 1
      spans += Span(id, name, s, e, parent, current); id
    }

  /** Times `f` as a span nested in whatever span is open. */
  def span[A](name: String)(f: => A): A = {
    val id = synchronized { nextId += 1; nextId - 1 }
    val parent = open.headOption.map(_._1).getOrElse(-1)
    val s = nowMs
    open.push((id, name, s))
    try f finally {
      open.pop()
      synchronized { spans += Span(id, name, s, nowMs, parent, current) }
    }
  }

  /** A span whose bounds were observed rather than wrapped (stage
    * boundaries reported by a callback). */
  def interval(name: String, s: Double, e: Double): Unit = {
    val parent = open.headOption.map(_._1).getOrElse(-1)
    record(name, s, e, parent)
  }

  def drain(): Unit = BenchBus.drain(spark.sparkContext)

  /** Run `f` as operation `op`: events before and after belong to others. */
  def operation[A](op: Long)(f: => A): A = {
    drain(); current = op
    try f finally { drain(); current = -1L }
  }

  private val jobStart = mutable.Map.empty[Int, (Double, Long)]

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      jobStart(e.jobId) = (e.time.toDouble, current)
      add("spark.jobs", 1)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobStart.remove(e.jobId).foreach { case (s, op) =>
        val id = nextId; nextId += 1
        // parent is resolved by time containment in [[Report]]
        spans += Span(id, "spark.job", s, e.time.toDouble, -2, op)
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      add("spark.stages", 1)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      add("spark.tasks", 1)
      val m = e.taskMetrics
      if (m != null) {
        add("spark.executor_run_ms", m.executorRunTime.toDouble)
        add("spark.gc_ms", m.jvmGCTime.toDouble)
        add("spark.shuffle_bytes",
          (m.shuffleReadMetrics.totalBytesRead + m.shuffleWriteMetrics.bytesWritten).toDouble)
        add("spark.spill_bytes", (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble)
        add("store.bytes_read", m.inputMetrics.bytesRead.toDouble)
      }
    }
  }

  private object Scans extends AdaptiveSparkPlanHelper

  private val qeListener = new QueryExecutionListener {
    private def phases(qe: QueryExecution): Unit = {
      val ph = qe.tracker.phases
      Seq("analysis", "optimization", "planning").foreach { p =>
        ph.get(p).foreach(s => add(s"sql.${p}_ms", s.durationMs.toDouble))
      }
    }
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      phases(qe)
      Scans.collectWithSubqueries(qe.executedPlan) { case s: FileSourceScanExec => s }
        .foreach { s =>
          s.metrics.get("numFiles").foreach(m => add("store.files_scanned", m.value.toDouble))
        }
    }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = phases(qe)
  }

  def start(): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(qeListener)
  }

  def stop(): Unit = {
    drain()
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(qeListener)
  }
}

/** Self time and per-layer totals from a tracer's spans. */
object Report {

  /** Length of the union of `ivs`. */
  private def covered(ivs: Seq[(Double, Double)]): Double = {
    var total = 0.0; var end = Double.NegativeInfinity
    ivs.sortBy(_._1).foreach { case (s, e) =>
      if (s > end) { total += e - s; end = e }
      else if (e > end) { total += e - end; end = e }
    }
    total
  }

  /** Per-layer self time summed over `ops`: a span's duration minus the
    * part its children cover. Spark job spans are placed under the
    * innermost benchmark span of the same operation that contains them. */
  def selfTimeByLayer(spans: Seq[Span], ops: Set[Long]): Map[String, Double] = {
    val out = mutable.Map.empty[String, Double].withDefaultValue(0.0)
    spans.filter(s => ops.contains(s.op)).groupBy(_.op).foreach { case (_, ss) =>
      val bench = ss.filter(_.parent != -2)
      val placed = ss.map { s =>
        if (s.parent != -2) s
        else {
          val mid = (s.startMs + s.endMs) / 2
          val host = bench.filter(b => b.startMs <= mid && mid <= b.endMs)
            .sortBy(_.durMs).headOption
          s.copy(parent = host.map(_.id).getOrElse(-1))
        }
      }
      val kids = placed.groupBy(_.parent)
      placed.foreach { s =>
        val ch = kids.getOrElse(s.id, Nil).map(c =>
          (math.max(c.startMs, s.startMs), math.min(c.endMs, s.endMs))).filter(x => x._2 > x._1)
        out(s.layer) += math.max(0.0, s.durMs - covered(ch))
      }
    }
    out.toMap
  }
}
