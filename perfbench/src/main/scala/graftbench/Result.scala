package graftbench

import java.nio.file.{Files, Path}

import scala.collection.mutable

/** Minimal JSON rendering for the result files. */
object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null"
    else if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString
    else d.toString
  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}: $v" }.mkString("{", ", ", "}")
  def arr(vs: Seq[String]): String = vs.mkString("[", ", ", "]")
  def nums(m: Map[String, Double]): String =
    obj(m.toSeq.sortBy(_._1).map { case (k, v) => k -> num(v) })
}

/** Assembles the run's output: the contract line (end-to-end metrics
  * untraced, per-layer metrics traced) and the detail record. */
object Result {
  import Json._

  /** Commit operation types of the write path. */
  val CommitTypes = Seq("append", "update", "delete", "merge", "optimize")
  val ExtOps = Seq("exact_dedup", "minhash", "bm25", "quality", "cosine")
  val Layers = Seq("app", "present", "translate", "sql", "spark", "store", "ext")

  /** Per-layer metric names and units; every workload reports all of them
    * (0 where the workload does not reach the layer). */
  val PerLayer: Seq[(String, String)] = Seq(
    "present.table_info_ms" -> "ms", "present.render_ms" -> "ms",
    "present.plot_ms" -> "ms", "present.summarize_ms" -> "ms",
    "translate.to_sql_ms" -> "ms",
    "sql.engine_sql_ms" -> "ms", "sql.analysis_ms" -> "ms",
    "sql.optimization_ms" -> "ms", "sql.planning_ms" -> "ms",
    "spark.jobs" -> "count", "spark.stages" -> "count", "spark.tasks" -> "count",
    "spark.executor_run_ms" -> "ms", "spark.wall_ms" -> "ms",
    "spark.executor_run_per_wall" -> "ratio",
    "spark.shuffle_bytes" -> "bytes", "spark.spill_bytes" -> "bytes",
    "spark.gc_ms" -> "ms",
    "store.files_in_snapshot" -> "count", "store.files_scanned" -> "count",
    "store.bytes_read" -> "bytes", "store.scan_ratio" -> "ratio") ++
    CommitTypes.flatMap { t => Seq(
      s"store.$t.data_files_added" -> "count", s"store.$t.delete_files_added" -> "count",
      s"store.$t.files_rewritten" -> "count", s"store.$t.bytes_added" -> "bytes",
      s"store.$t.live_files" -> "count") } ++
    ExtOps.map(o => s"ext.${o}_ms" -> "ms") ++ Seq(
      "ext.minhash_candidate_pairs" -> "count", "ext.minhash_verified_ratio" -> "ratio") ++
    Layers.map(l => s"self.${l}_ms" -> "ms") ++ Seq(
      "trace.overhead_ms" -> "ms", "trace.ops" -> "count",
      "trace.count_mismatches" -> "count")

  /** Counters that must repeat exactly, op by op, for one seeded client. */
  private def exactCount(k: String): Boolean =
    Set("spark.jobs", "spark.stages", "spark.tasks", "store.files_scanned",
      "ext.minhash_candidate_pairs", "ext.minhash_verified_pairs")(k) ||
      Seq("files_added", "files_rewritten", "bytes_added").exists(k.endsWith)

  def build(a: Main.Args, w: Workload, stats: RunStats, tracer: Option[Tracer],
      cores: Int, sizes: Map[String, Long], setup: Map[String, Double],
      heapMb: Double, extra: Map[String, Double]): String = {
    val timed = stats.timed
    val headSamples = timed.filter(s => s.cls == w.headline && !s.traced)
    val head = headSamples.map(_.ms)
    val attempted = stats.samples.size + 1 // + the end-of-run comparison
    val failed = stats.samples.count(!_.ok) + (if (stats.finalProblems.nonEmpty) 1 else 0)
    val tail = Stats.quantile(head, Stats.TailPct)
    val beyond = head.count(_ > tail)
    val untraced = timed.filterNot(_.traced)
    val opsPerS = untraced.size / (untraced.map(_.ms).sum / 1000.0)
    val corpus = untraced.filter(_.cls == "corpus")
    val docsPerS = corpus.map(_.units).sum / (corpus.map(_.ms).sum / 1000.0)

    val cpuPerOp = Stats.shapeMean(headSamples, _.cpuMs)
    val opsPerCpuS = untraced.size / (untraced.map(_.cpuMs).sum / 1000.0)

    // bounded metrics are CPU time: on a shared host wall time moves with
    // the other tenants' load, which the detail record shows beside them
    val endToEnd = Seq(
      "setup_s" -> (setup("setup_cpu_s"), "s"),
      "cpu_per_op_ms" -> (cpuPerOp, "ms"),
      "ops_per_cpu_s" -> (opsPerCpuS, "1/s"),
      "heap_after_gc_mb" -> (heapMb, "MB"))

    val (perLayer, spansOut, mismatches) = tracer match {
      case Some(t) => layers(a, w, stats, t)
      case None => (Map.empty[String, Double], Nil, Nil)
    }
    val metrics =
      if (a.trace) PerLayer.map { case (k, u) => k -> (perLayer.getOrElse(k, 0.0), u) }
      else endToEnd

    val byKind = untraced.groupBy(_.kind).toSeq.sortBy(_._1).map {
      case (k, ss) => k -> obj(Seq("n" -> num(ss.size), "p50_ms" -> num(Stats.median(ss.map(_.ms))),
        "cpu_p50_ms" -> num(Stats.median(ss.map(_.cpuMs)))))
    }
    val named = namedMetrics(w, stats) ++ extra ++
      (if (corpus.nonEmpty) Map("docs_per_s" -> docsPerS) else Map.empty) ++ Map(
      "setup_s" -> setup("setup_cpu_s"), "heap_after_gc_mb" -> heapMb,
      "failed_ratio" -> failed.toDouble / attempted,
      "cpu_per_op_ms" -> cpuPerOp, "ops_per_cpu_s" -> opsPerCpuS,
      "latency_ms" -> Stats.shapeMean(headSamples, _.ms), "tail_ms" -> tail, "ops_per_s" -> opsPerS)
    val problems = stats.failures.toSeq ++ stats.finalProblems
    val detail = obj(Seq(
      "workload" -> str(w.name), "seed" -> num(a.seed.toDouble), "cores" -> num(cores),
      "seconds" -> num(a.seconds), "trace" -> (if (a.trace) "true" else "false"),
      "data_sizes" -> nums(sizes.map { case (k, v) => k -> v.toDouble }),
      "metrics" -> nums(named),
      "tail" -> obj(Seq("percentile" -> num(Stats.TailPct * 100), "samples" -> num(head.size),
        "samples_beyond" -> num(beyond))),
      "setup" -> nums(setup),
      "by_kind" -> obj(byKind),
      "headline_ms" -> arr(head.map(num)),
      "headline_cpu_ms" -> arr(headSamples.map(x => num(x.cpuMs))),
      "failures" -> arr(problems.take(20).map(str)),
      "count_mismatches" -> arr(mismatches.take(20).map(str))) ++
      (if (a.trace) Seq("per_layer" -> nums(perLayer)) else Nil))

    Files.createDirectories(a.results)
    val tag = s"${w.name}-seed${a.seed}-trace${if (a.trace) 1 else 0}"
    Files.writeString(a.results.resolve(s"$tag.json"), detail)
    if (spansOut.nonEmpty) Files.writeString(a.results.resolve(s"$tag-spans.jsonl"),
      spansOut.mkString("", "\n", "\n"))

    val line = obj(Seq(
      "correct" -> (if (failed == 0) "true" else "false"),
      "attempted" -> num(attempted), "failed" -> num(failed),
      "metrics" -> obj(metrics.map { case (k, (v, u)) =>
        k -> obj(Seq("value" -> num(v), "unit" -> str(u))) })))
    s"""{"detail": $detail}""" + "\n" + line
  }

  /** The workload-specific latency names: predict_* on chat, commit_*
    * and query_* (its reads) on ingest. */
  private def namedMetrics(w: Workload, stats: RunStats): Map[String, Double] = {
    val out = mutable.Map.empty[String, Double]
    Seq("predict", "query", "commit").foreach { cls =>
      val xs = stats.of(cls, traced = false)
      if (xs.nonEmpty) {
        out(s"${cls}_p50_ms") = Stats.median(xs)
        out(s"${cls}_tail_ms") = Stats.quantile(xs, Stats.TailPct)
      }
    }
    out.toMap
  }

  private def layers(a: Main.Args, w: Workload, stats: RunStats, t: Tracer)
      : (Map[String, Double], Seq[String], Seq[String]) = {
    val traced = stats.timed.filter(_.traced)
    val ops = traced.map(_.seq).toSet
    val sums = mutable.Map.empty[String, Double].withDefaultValue(0.0)
    val readOps = traced.filter(_.cls != "commit").map(_.seq).toSet
    // the read path is reported over reads; commits scan files too
    val readPath = Set("store.files_in_snapshot", "store.files_scanned", "store.bytes_read")
    ops.foreach(op => t.counters.get(op).foreach(_.foreach { case (k, v) =>
      if (!readPath(k) || readOps(op)) sums(k) += v }))
    val n = math.max(1, traced.size).toDouble
    val reads = math.max(1, traced.count(_.cls != "commit")).toDouble
    val predicts = math.max(1, traced.count(_.cls == "predict")).toDouble
    val out = mutable.Map.empty[String, Double]
    Seq("present.table_info_ms", "present.render_ms", "present.plot_ms",
      "present.summarize_ms", "translate.to_sql_ms").foreach(k => out(k) = sums(k) / predicts)
    Seq("sql.engine_sql_ms", "sql.analysis_ms", "sql.optimization_ms", "sql.planning_ms",
      "spark.jobs", "spark.stages", "spark.tasks", "spark.executor_run_ms",
      "spark.shuffle_bytes", "spark.spill_bytes", "spark.gc_ms").foreach(k => out(k) = sums(k) / n)
    out("spark.wall_ms") = traced.map(_.ms).sum / n
    out("spark.executor_run_per_wall") = sums("spark.executor_run_ms") / math.max(1e-9, traced.map(_.ms).sum)
    Seq("store.files_in_snapshot", "store.files_scanned", "store.bytes_read")
      .foreach(k => out(k) = sums(k) / reads)
    out("store.scan_ratio") =
      if (sums("store.files_in_snapshot") > 0) sums("store.files_scanned") / sums("store.files_in_snapshot") else 0.0
    CommitTypes.foreach { ty =>
      val c = math.max(1.0, sums(s"store.$ty.ops"))
      Seq("data_files_added", "delete_files_added", "files_rewritten", "bytes_added", "live_files")
        .foreach(k => out(s"store.$ty.$k") = sums(s"store.$ty.$k") / c)
    }
    ExtOps.foreach { o =>
      out(s"ext.${o}_ms") = sums(s"ext.${o}_ms") / math.max(1.0, sums(s"ext.$o.calls"))
    }
    out("ext.minhash_candidate_pairs") = sums("ext.minhash_candidate_pairs") / math.max(1.0, sums("ext.minhash.calls"))
    out("ext.minhash_verified_ratio") =
      if (sums("ext.minhash_candidate_pairs") > 0) sums("ext.minhash_verified_pairs") / sums("ext.minhash_candidate_pairs") else 0.0
    Report.selfTimeByLayer(t.spans.toSeq, ops).foreach { case (l, ms) => out(s"self.${l}_ms") = ms / n }
    // per operation: traced latency minus the untraced median of its kind
    val untracedByKind = stats.timed.filterNot(_.traced).groupBy(_.kind).map { case (k, ss) =>
      k -> Stats.median(ss.map(_.ms)) }
    val overheads = traced.flatMap(s => untracedByKind.get(s.kind).map(s.ms - _))
    out("trace.overhead_ms") = if (overheads.nonEmpty) Stats.median(overheads) else 0.0
    out("trace.ops") = traced.size

    // exact counts per operation, compared with an earlier traced run of
    // the same workload, seed and build over the operations both ran
    val counts = traced.map { s =>
      s.seq -> t.counters.getOrElse(s.seq, mutable.Map.empty).filter(kv => exactCount(kv._1)).toMap
    }.toMap
    val file = a.results.resolve(s"counts-${w.name}-seed${a.seed}-${a.stamp}.tsv")
    val mismatches = readCounts(file).toSeq.flatMap { prev =>
      counts.toSeq.sortBy(_._1).flatMap { case (seq, m) =>
        prev.get(seq).toSeq.flatMap { pm =>
          (m.keySet ++ pm.keySet).toSeq.sorted.collect {
            case k if m.getOrElse(k, 0.0) != pm.getOrElse(k, 0.0) =>
              s"op $seq $k: ${num(pm.getOrElse(k, 0.0))} then ${num(m.getOrElse(k, 0.0))}"
          }
        }
      }
    }
    if (!Files.exists(file)) writeCounts(file, counts)
    out("trace.count_mismatches") = mismatches.size

    val spans = t.spans.filter(s => ops.contains(s.op)).map { s =>
      obj(Seq("id" -> num(s.id), "name" -> str(s.name), "start_ms" -> num(s.startMs),
        "end_ms" -> num(s.endMs), "parent" -> num(s.parent), "op" -> num(s.op.toDouble)))
    }
    (out.toMap, spans.toSeq, mismatches)
  }

  private def writeCounts(f: Path, c: Map[Long, Map[String, Double]]): Unit =
    Files.writeString(f, c.toSeq.sortBy(_._1).map { case (seq, m) =>
      s"$seq\t" + m.toSeq.sorted.map { case (k, v) => s"$k=${num(v)}" }.mkString("\t")
    }.mkString("", "\n", "\n"))

  private def readCounts(f: Path): Option[Map[Long, Map[String, Double]]] =
    if (!Files.exists(f)) None
    else Some(Files.readAllLines(f).toArray(Array.empty[String]).toSeq.filter(_.nonEmpty).map { l =>
      val parts = l.split("\t").toSeq
      parts.head.toLong -> parts.tail.map { kv =>
        val i = kv.lastIndexOf('='); kv.take(i) -> kv.drop(i + 1).toDouble
      }.toMap
    }.toMap)
}
