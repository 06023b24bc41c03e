package graftbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** One operation of a workload. `cls` is its latency class (predict,
  * query, commit, corpus); `kind` names its shape. `run` is the timed
  * call; `check` runs untimed afterwards on its result and returns a
  * description of any mismatch against the independent reference. */
final case class Op(kind: String, cls: String, run: () => Any,
    check: Any => Option[String], tables: Seq[String] = Nil,
    units: () => Double = () => 1.0)

/** A workload: inputs from a seed, a warehouse build, and an endless seeded sequence of decks. A deck holds every operation
  * shape in a fixed proportion, and the closed loop only stops between
  * decks, so the mix is the same in every run. */
trait Workload {
  def name: String
  /** The latency class `latency_ms` and `tail_ms` report. */
  def headline: String
  /** Typical time of one deck on a 4-core machine; the timed phase runs
    * enough decks to cover `--seconds` at this pace. */
  def deckSeconds: Double
  /** Generate the seeded inputs under `dir`; returns data sizes. */
  def generate(dir: Path): Map[String, Long]
  /** Build the graft warehouse at `dir` from the generated inputs. */
  def build(dir: Path): Unit
  /** The operations of deck `round`. `full` asks for every operation
    * shape, including ones too slow for the timed decks; the traced run
    * traces one full deck. */
  def deck(round: Int, full: Boolean): Seq[Op]
  /** Extra named metrics for the detail line, after the timed phase. */
  def extra(): Map[String, Double] = Map.empty
  /** Per-operation store bookkeeping in the traced run. */
  def beforeOp(op: Op): Unit = ()
  def afterOp(op: Op, seq: Long): Unit = ()
  /** Called between warmup and the timed phase. */
  def startTimed(): Unit = ()
  /** End-of-run full comparison against the reference; mismatches. */
  def finalCheck(): Seq[String] = Nil
  var tracer: Option[Tracer] = None
}

final case class Sample(seq: Long, kind: String, cls: String, ms: Double,
    ok: Boolean, traced: Boolean, units: Double, cpuMs: Double)

final class RunStats {
  val samples = mutable.ArrayBuffer.empty[Sample]
  val failures = mutable.ArrayBuffer.empty[String]
  /** Leading samples that belong to the warmup deck. */
  var warmup = 0
  var finalProblems: Seq[String] = Nil
  def timed: Seq[Sample] = samples.drop(warmup).toSeq
  def of(cls: String, traced: Boolean): Seq[Double] =
    timed.filter(s => s.cls == cls && s.traced == traced).map(_.ms)
}

object Stats {
  /** Linear-interpolated quantile of `xs` at `p` in [0, 1]. */
  def quantile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "no samples")
    val s = xs.sorted
    val h = p * (s.length - 1)
    val lo = math.floor(h).toInt
    val hi = math.min(lo + 1, s.length - 1)
    s(lo) + (h - lo) * (s(hi) - s(lo))
  }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
  /** Fixed tail percentile; the report states the sample count and how
    * many samples lie beyond it. */
  val TailPct = 0.75
  def geomean(xs: Seq[Double]): Double = math.exp(xs.map(math.log).sum / xs.size)
  /** A deck mixes shapes whose latencies differ several-fold, so a run's
    * median is one shape's sample. This takes each shape's median over
    * the decks, which drops a deck the host slowed, and the geometric mean
    * over shapes, which weighs each shape alike. */
  def shapeMean(ss: Seq[Sample], v: Sample => Double): Double =
    geomean(ss.groupBy(_.kind).values.map(k => median(k.map(v))).toSeq)
}

object Main {
  final case class Args(workload: String, seed: Long, seconds: Double,
      trace: Boolean, work: Path, out: Path, results: Path, stamp: String)

  private def parse(a: Array[String]): Args = {
    val m = a.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toDouble,
      need("trace") == "1", Paths.get(need("work")), Paths.get(need("out")),
      Paths.get(need("results")), need("stamp"))
  }


  def session(work: Path, cores: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graft-perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      .config("spark.sql.cbo.enabled", "true")
      .config("spark.sql.cbo.joinReorder.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("spark-warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  def workload(name: String, spark: SparkSession, seed: Long): Workload = name match {
    case "chat" => new ChatWorkload(spark, seed)
    case "ingest" => new IngestWorkload(spark, seed)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  def timeS[A](f: => A): (A, Double) = {
    val t = System.nanoTime(); val r = f; (r, (System.nanoTime() - t) / 1e9)
  }

  /** Heap in use after full collections. The pauses let Spark's context
    * cleaner drop blocks whose owners the first collection freed, so what
    * remains is state something still holds. */
  def heapAfterGcMb(): Double = {
    System.gc(); Thread.sleep(500); System.gc(); Thread.sleep(200); System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / (1024.0 * 1024.0)
  }

  private val osBean = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  /** CPU time of every thread of the process since the JVM started. */
  def processCpuMs(): Double = osBean.getProcessCpuTime / 1e6

  /** The span around a whole operation, named for the layer the
    * benchmark calls into. */
  val RootSpan = Map("predict" -> "app.predict", "query" -> "sql.query",
    "commit" -> "store.commit", "corpus" -> "ext.call")

  /** Run one operation, time it, check it, and record the sample. */
  private def runOp(w: Workload, op: Op, seq: Long, stats: RunStats, traced: Boolean): Unit = {
    w.beforeOp(op)
    val units = op.units()
    var cpuMs = 0.0
    def call(): (Either[Throwable, Any], Double) = {
      val c = processCpuMs()
      val t = System.nanoTime()
      val r = try Right(op.run()) catch { case NonFatal(e) => Left(e) }
      val ms = (System.nanoTime() - t) / 1e6
      cpuMs = processCpuMs() - c
      (r, ms)
    }
    val (res, ms) = w.tracer match {
      case Some(t) => t.operation(seq)(t.span(RootSpan(op.cls))(call()))
      case None => call()
    }
    val problem = res match {
      case Left(e) => Some(s"${op.kind}: failed: ${e.getClass.getSimpleName}: ${e.getMessage}")
      case Right(v) =>
        try op.check(v).map(m => s"${op.kind}: $m")
        catch { case NonFatal(e) => Some(s"${op.kind}: check failed: $e") }
    }
    if (res.isRight) w.afterOp(op, seq)
    problem.foreach(stats.failures += _)
    stats.samples += Sample(seq, op.kind, op.cls, ms, problem.isEmpty, traced, units, cpuMs)
  }

  /** Closed loop, one client: `decks` whole decks from `round0`.
    * Returns the next round and sequence number. */
  private def loop(w: Workload, decks: Int, round0: Int, seq0: Long,
      stats: RunStats, traced: Boolean = false, full: Boolean = false): (Int, Long) = {
    var seq = seq0
    (round0 until round0 + decks).foreach { round =>
      w.deck(round, full).foreach { op => runOp(w, op, seq, stats, traced); seq += 1 }
    }
    (round0 + decks, seq)
  }

  /** The fewest whole decks whose typical time covers `seconds`, at least
    * two, so each shape's median has more than one sample to choose from. */
  def timedDecks(w: Workload, seconds: Double): Int =
    math.max(2, math.ceil(seconds / w.deckSeconds - 1e-9).toInt)

  /** Wall and process CPU seconds of `f`. */
  def timeCpuS[A](f: => A): (A, Double, Double) = {
    val c = processCpuMs()
    val (r, s) = timeS(f)
    (r, s, (processCpuMs() - c) / 1000)
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val cores = Runtime.getRuntime.availableProcessors()
    Files.createDirectories(a.work)
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    val spark = session(a.work, cores)
    val sessionS = (System.currentTimeMillis() - jvmStart) / 1000.0
    val sessionCpuS = processCpuMs() / 1000
    try runOne(a, spark, cores, sessionS, sessionCpuS) finally spark.stop()
  }

  private def runOne(a: Args, spark: SparkSession, cores: Int, sessionS: Double, sessionCpuS: Double): Unit = {
    val w = workload(a.workload, spark, a.seed)
    val (sizes, inputsS) = timeS(w.generate(a.work.resolve("inputs")))
    // one build: a second, in a JVM the first has warmed, would time a
    // different thing and cost a run 3-8 s of the time budget
    val (_, buildS, buildCpuS) = timeCpuS(w.build(a.work.resolve("warehouse")))
    val stats = new RunStats
    // warmup: one deck of every timed shape, checked, before timing starts
    val ((round0, seq0), warmupS, warmupCpuS) = timeCpuS(loop(w, 1, 0, 0L, stats))
    stats.warmup = stats.samples.size
    val setupWallS = sessionS + buildS + warmupS
    val setupCpuS = sessionCpuS + buildCpuS + warmupCpuS

    w.startTimed()
    // the traced run traces one full deck between untraced ones: always
    // the same round, so traced operations keep their sequence numbers
    // from run to run, and flanked by the decks its overhead is taken
    // against
    val tracer = if (a.trace) Some(new Tracer(spark)) else None
    val (round1, seq1) = tracer match {
      case Some(t) =>
        val (r, q) = loop(w, 1, round0, seq0, stats)
        t.start(); w.tracer = tracer
        val next = loop(w, 1, r, q, stats, traced = true, full = true)
        t.stop(); w.tracer = None
        next
      case None => (round0, seq0)
    }
    // a fixed number of decks rather than a deadline: every run of a
    // workload does the same work in the same order, however fast the host
    loop(w, timedDecks(w, a.seconds), round1, seq1, stats)
    val heapMb = heapAfterGcMb()
    val extra = w.extra()
    stats.finalProblems = w.finalCheck()

    val setup = Map("setup_wall_s" -> setupWallS, "session_s" -> sessionS,
      "build_s" -> buildS, "warmup_s" -> warmupS, "inputs_s" -> inputsS,
      "setup_cpu_s" -> setupCpuS, "session_cpu_s" -> sessionCpuS,
      "build_cpu_s" -> buildCpuS, "warmup_cpu_s" -> warmupCpuS)
    val result = Result.build(a, w, stats, tracer, cores, sizes, setup, heapMb, extra)
    Files.createDirectories(a.out.getParent)
    Files.writeString(a.out, result)
  }
}
