package graftbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._

import graft.catalog.GraftCatalog
import graft.ext.{Dedup, Search, Similarity, TextAnalysis}
import graft.ingest.Ingest
import graft.sql.Engine

/** One row of the in-memory table model. */
private final case class Rec(k: Int, v: Long, s: String)

/** Writes beside reads on two document tables, one copy-on-write and one
  * merge-on-read: on the first, MAX(id) continuation appends, UPDATE and
  * MERGE INTO; on the second, INSERT … VALUES, UPDATE and DELETE;
  * interleaved with reads of the same tables, an OPTIMIZE of one table per
  * deck, and corpus operators called directly on the freshly written
  * tables: cosine top-k in every deck; MinHash near-duplicates, exact
  * dedup, BM25 top-k and the quality filter in the traced run's full deck
  * (they would make every deck too long for the benchmark's time budget).
  * It is the only workload that commits and the only one that reaches
  * `ext` and `functions`; it shows read cost as writes pile up. Every
  * statement is also applied to an in-memory model of each table, the
  * reference that reads, corpus results and the end-of-run full
  * comparison are checked against. */
final class IngestWorkload(spark: SparkSession, seed: Long) extends Workload {
  val name = "ingest"
  val headline = "commit"
  val deckSeconds = 7.2

  val InitialDocs = 2000
  val AppendRows = 1000
  val Dim = 64
  val QualityMin = 0.62
  private val tables = Seq("cow", "mor")
  private val schema = StructType(Seq(
    StructField("id", LongType, nullable = false), StructField("k", IntegerType),
    StructField("v", LongType), StructField("s", StringType)))
  private val embSchema = StructType(Seq(
    StructField("vec_id", LongType, nullable = false), StructField("embedding", ArrayType(FloatType))))

  private val rnd = new Random(seed)
  private val corpus = new Corpus(rnd)
  private var initial: Map[String, Map[Long, Rec]] = Map.empty
  private var planted: Map[String, Set[(Long, Long)]] = Map.empty
  private var vectors: IndexedSeq[Array[Float]] = _
  private val model = mutable.Map.empty[String, mutable.HashMap[Long, Rec]]
  private var inputs: Path = _
  private var warehouse: Path = _
  private var cat: GraftCatalog = _
  private var engine: Engine = _
  private var timedPhase = false
  private var rowsChanged = 0L
  private var filesAtStart = Set.empty[Path]

  def generate(dir: Path): Map[String, Long] = {
    inputs = dir
    val gen = tables.map { t =>
      val (texts, pairs) = corpus.initial(1L, InitialDocs)
      val rows = texts.zipWithIndex.map { case (s, i) => (i + 1L) -> Rec(rnd.nextInt(100), rnd.nextInt(1000).toLong, s) }
      spark.createDataFrame(rows.map { case (id, x) => Row(id, x.k, x.v, x.s) }.asJava, schema)
        .write.parquet(dir.resolve(t).toString)
      (t, rows.toMap, pairs)
    }
    initial = gen.map(g => g._1 -> g._2).toMap
    planted = gen.map(g => g._1 -> g._3).toMap
    vectors = (0 until InitialDocs).map(_ => corpus.unitVector(Dim))
    spark.createDataFrame(vectors.zipWithIndex.map { case (v, i) => Row(i.toLong, v.toSeq) }.asJava, embSchema)
      .write.parquet(dir.resolve("embeddings").toString)
    Map("initial_docs_per_table" -> InitialDocs.toLong, "tables" -> tables.size.toLong,
      "embeddings" -> InitialDocs.toLong, "embedding_dim" -> Dim.toLong,
      "planted_pairs_per_table" -> planted.values.head.size.toLong, "append_rows" -> AppendRows.toLong)
  }

  def build(dir: Path): Unit = {
    warehouse = dir
    cat = new GraftCatalog(dir, spark)
    cat.createDatabase("ingest"); cat.use("ingest")
    engine = new Engine(cat)
    tables.foreach { t =>
      cat.createTable(t, schema)
      if (t == "mor") engine.sql("ALTER TABLE mor SET TBLPROPERTIES ('write.delete.mode'='merge-on-read', " +
        "'write.update.mode'='merge-on-read', 'write.merge.mode'='merge-on-read')")
      cat.append(t, spark.read.schema(schema).parquet(inputs.resolve(t).toString), 1000L)
      model(t) = mutable.HashMap.from(initial(t))
    }
    cat.createTable("embeddings", embSchema)
    cat.append("embeddings", spark.read.schema(embSchema).parquet(inputs.resolve("embeddings").toString), 1000L)
  }

  private def maxId(t: String): Long = model(t).keysIterator.max
  private def docs(t: String): Iterable[(Long, String)] = model(t).view.map { case (id, x) => id -> x.s }

  /** Existing ids picked by seeded probes (deterministic for one model). */
  private def existing(t: String, r: Random, n: Int): Seq[Long] = {
    val m = model(t); val hi = maxId(t)
    Iterator.continually(1L + (r.nextDouble() * hi).toLong).filter(m.contains).distinct.take(n).toSeq
  }

  /** A commit: the statement runs timed; on success the model takes the
    * same change, which the following reads and the end-of-run comparison
    * check. */
  private def commit(kind: String, t: String)(run: => Any)(apply: => Long): Op =
    Op(s"$kind.$t", "commit", () => run, _ => {
      val n = apply
      if (timedPhase) rowsChanged += n
      None
    }, Seq(t))

  private def rowsOp(kind: String, cls: String, t: String, units: => Double)(run: => Seq[Row])(want: => Seq[Row]): Op =
    Op(s"$kind.$t", cls, () => run, {
      case rows: Seq[Row @unchecked] => Check.rows(rows, want)
      case other => Some(s"unexpected result $other")
    }, Seq(t), () => units)

  private def sqlText(s: String) = "'" + s.replace("'", "''") + "'"

  private def writes(t: String, r: Random): Seq[Op] = {
    val m = model(t)
    val appendRows = Seq.fill(AppendRows)((r.nextInt(100), r.nextInt(1000).toLong, corpus.text()))
    val values = Seq.fill(5)((r.nextInt(100), r.nextInt(1000).toLong, corpus.text()))
    val (uk, ud) = (r.nextInt(100), 1 + r.nextInt(9))
    val dk = r.nextInt(100)
    val mergeSeed = r.nextLong()
    val mergeTexts = Seq.fill(10)(corpus.text())
    val append = if (t == "cow") commit("append", t) {
        // append_iceberg-style continuation: next id = MAX(id) + 1
        val next = Ingest.nextId(cat, t, "id")
        require(next == maxId(t) + 1, s"nextId $next, model max ${maxId(t)}")
        val rows = appendRows.zipWithIndex.map { case ((k, v, s), i) => Row(next + i, k, v, s) }
        cat.append(t, spark.createDataFrame(rows.asJava, schema))
      } {
        val next = maxId(t) + 1
        appendRows.zipWithIndex.foreach { case ((k, v, s), i) => m(next + i) = Rec(k, v, s) }
        AppendRows.toLong
      } else commit("insert", t) {
        val next = maxId(t) + 1
        engine.sql(s"INSERT INTO $t VALUES " + values.zipWithIndex.map { case ((k, v, s), i) =>
          s"(${next + i}, $k, $v, ${sqlText(s)})" }.mkString(", "))
      } {
        val next = maxId(t) + 1
        values.zipWithIndex.foreach { case ((k, v, s), i) => m(next + i) = Rec(k, v, s) }
        values.size.toLong
      }
    val kinds = if (t == "cow") Set("append", "update", "merge") else Set("insert", "update", "delete")
    Seq(append,
      commit("update", t)(engine.sql(s"UPDATE $t SET v = v + $ud WHERE k = $uk")) {
        val hit = m.filter(_._2.k == uk).keys.toSeq
        hit.foreach(id => m(id) = m(id).copy(v = m(id).v + ud)); hit.size.toLong
      },
      commit("delete", t)(engine.sql(s"DELETE FROM $t WHERE k = $dk AND id % 3 = 0")) {
        val hit = m.filter { case (id, x) => x.k == dk && id % 3 == 0 }.keys.toSeq
        hit.foreach(m.remove); hit.size.toLong
      }, {
        // the source is drawn when the statement runs, after the deck's
        // earlier statements: ten existing ids and ten new ones
        lazy val src = {
          val r2 = new Random(mergeSeed)
          val old = existing(t, r2, 10).map(id => (id, r2.nextInt(1000).toLong, m(id).s))
          val fresh = mergeTexts.zipWithIndex.map { case (s, i) => (maxId(t) + 1 + i, r2.nextInt(1000).toLong, s) }
          old ++ fresh
        }
        commit("merge", t) {
          engine.sql(s"MERGE INTO $t AS t USING (VALUES " +
            src.map { case (id, v, s) => s"($id, $v, ${sqlText(s)})" }.mkString(", ") +
            ") AS s(id, v, txt) ON t.id = s.id WHEN MATCHED THEN UPDATE SET v = s.v " +
            "WHEN NOT MATCHED THEN INSERT (id, k, v, s) VALUES (s.id, 0, s.v, s.txt)")
        } {
          src.foreach { case (id, v, s) => m(id) = m.get(id).map(_.copy(v = v)).getOrElse(Rec(0, v, s)) }
          src.size.toLong
        }
      }).filter(op => kinds(op.kind.takeWhile(_ != '.')))
  }

  private def reads(t: String, r: Random): Seq[Op] = {
    val m = model(t)
    val pointSeed = r.nextLong()
    lazy val id = existing(t, new Random(pointSeed), 1).head
    if (t == "cow") Seq(
      rowsOp("read_agg", "query", t, 1.0)(
        engine.sql(s"SELECT k % 10 AS b, COUNT(*) AS n, SUM(v) AS sv FROM $t GROUP BY k % 10 ORDER BY b").collect().toSeq) {
        m.values.groupBy(_.k % 10).toSeq.sortBy(_._1).map { case (b, xs) => Row(b, xs.size.toLong, xs.map(_.v).sum) }
      })
    else Seq(
      rowsOp("read_point", "query", t, 1.0)(
        engine.sql(s"SELECT id, k, v, s FROM $t WHERE id = $id").collect().toSeq) {
        val x = m(id); Seq(Row(id, x.k, x.v, x.s))
      })
  }

  private def timedExt[A](op: String)(f: => A): A = tracer match {
    case None => f
    case Some(t) =>
      val (a, s) = Main.timeS(t.span(s"ext.$op")(f))
      t.add(s"ext.${op}_ms", s * 1000); t.add(s"ext.$op.calls", 1); a
  }

  /** The corpus operators: exact dedup on mor, MinHash on cow, BM25 on
    * cow, quality on mor, cosine on the embeddings. */
  private def corpusOps(r: Random, full: Boolean): Seq[Op] = {
    val pick = Seq("mor", "cow", "cow", "mor")
    val terms = Seq.fill(2)(corpus.vocab(8 + r.nextInt(400))).distinct
    val target = r.nextInt(vectors.size)
    val query = vectors(target).map(x => x + (r.nextGaussian() * 0.02).toFloat)
    def table(t: String): DataFrame = cat.table(t)
    def size(t: String): Double = model(t).size.toDouble
    Seq(
      Op(s"exact_dedup.${pick(0)}", "corpus", () => timedExt("exact_dedup") {
        Dedup.exactByContent(table(pick(0)), "s", "id").select("id").collect().map(_.getLong(0)).toSet
      }, {
        case got: Set[Long @unchecked] =>
          val want = Corpus.survivors(docs(pick(0)))
          Check.expect(got == want, s"${got.size} survivors, expected ${want.size}")
        case other => Some(s"unexpected result $other")
      }, Seq(pick(0)), () => size(pick(0))),
      Op(s"minhash.${pick(1)}", "corpus", () => timedExt("minhash") {
        val t = pick(1)
        tracer match {
          case None => Dedup.minhashNearDuplicates(table(t), "id", "s").collect()
          case Some(tr) =>
            // candidate and verified pairs for the useful-work ratio
            val cand = Dedup.minhashCandidatePairs(table(t), "id", "s")
            val out = Dedup.minhashNearDuplicates(table(t), "id", "s", candidates = Some(cand)).collect()
            tr.add("ext.minhash_candidate_pairs", cand.count().toDouble)
            tr.add("ext.minhash_verified_pairs", out.length.toDouble)
            out
        }
      }, {
        case rows: Array[Row] =>
          val t = pick(1)
          val got = rows.map(x => (x.getAs[Long]("id_a"), x.getAs[Long]("id_b"))).toSet
          val want = planted(t).filter { case (a, b) => model(t).contains(a) && model(t).contains(b) } ++
            Corpus.identicalPairs(docs(t))
          Check.expect(got == want, s"${got.size} near-duplicate pairs, expected ${want.size}; " +
            s"missed ${(want -- got).take(5)}, extra ${(got -- want).take(5)}")
        case other => Some(s"unexpected result $other")
      }, Seq(pick(1)), () => size(pick(1))),
      Op(s"bm25.${pick(2)}", "corpus", () => timedExt("bm25") {
        Search.bm25TopK(table(pick(2)), "id", "s", terms, 10).collect()
      }, {
        case rows: Array[Row] =>
          val ref = Corpus.bm25(docs(pick(2)), terms)
          val want = ref.values.toSeq.sorted.reverse.take(10)
          val got = rows.map(x => x.getLong(0) -> x.getDouble(1)).toSeq
          Check.expect(got.length == want.length &&
            got.map(_._2).zip(want).forall { case (a, b) => math.abs(a - b) < 2e-4 } &&
            got.forall { case (id, s) => math.abs(ref(id) - s) < 2e-4 },
            s"bm25 top-10 $got, reference scores $want")
        case other => Some(s"unexpected result $other")
      }, Seq(pick(2)), () => size(pick(2))),
      Op(s"quality.${pick(3)}", "corpus", () => timedExt("quality") {
        table(pick(3)).filter(TextAnalysis.qualityScore(col("s")) >= QualityMin)
          .select("id").collect().map(_.getLong(0)).toSet
      }, {
        case got: Set[Long @unchecked] =>
          val scores = model(pick(3)).map { case (id, x) => id -> Corpus.quality(x.s) }
          val want = scores.collect { case (id, s) if s >= QualityMin => id }.toSet
          // a score within rounding of the cut may land on either side
          Check.expect(((got -- want) ++ (want -- got)).forall(i => math.abs(scores(i) - QualityMin) < 1e-4),
            s"quality filter kept ${got.size}, reference ${want.size}")
        case other => Some(s"unexpected result $other")
      }, Seq(pick(3)), () => size(pick(3))),
      Op("cosine.embeddings", "corpus", () => timedExt("cosine") {
        Similarity.cosineTopK(table("embeddings"), "vec_id", "embedding", query, 10).collect()
      }, {
        case rows: Array[Row] =>
          val ref = vectors.map(Corpus.cosine(_, query))
          val best = ref.indices.maxBy(ref)
          Check.expect(rows.length == 10 && rows.head.getLong(0) == best &&
            rows.forall(x => math.abs(ref(x.getLong(0).toInt) - x.getDouble(1)) < 1e-5),
            s"cosine top-10 ${rows.map(_.getLong(0)).toSeq}, reference best $best")
        case other => Some(s"unexpected result $other")
      }, Seq("embeddings"), () => vectors.size.toDouble)
    ).filter(op => full || op.kind.startsWith("cosine"))
  }

  def deck(round: Int, full: Boolean): Seq[Op] = {
    val r = new Random(seed * 1000003L + round)
    val t = tables(round % tables.size)
    // a fixed order: a commit's cost depends on the ones before it (delete
    // files pile up until the next OPTIMIZE), so the seed picks parameters only
    (tables.flatMap(t => writes(t, r) ++ reads(t, r)) ++ corpusOps(r, full)) :+
      commit("optimize", t)(engine.sql(s"OPTIMIZE $t"))(0L)
  }

  private def parquetFiles(): Map[Path, Long] = {
    val s = Files.walk(warehouse)
    try s.iterator().asScala.filter(p => Files.isRegularFile(p) && p.toString.endsWith(".parquet"))
      .map(p => p -> Files.size(p)).toMap
    finally s.close()
  }

  override def startTimed(): Unit = {
    timedPhase = true
    filesAtStart = parquetFiles().keySet
  }

  override def extra(): Map[String, Double] = {
    val added = parquetFiles().filter { case (p, _) => !filesAtStart.contains(p) }.values.sum
    Map("bytes_written_per_row_changed" -> added.toDouble / math.max(1L, rowsChanged),
      "rows_changed" -> rowsChanged.toDouble) ++
      tables.map(t => s"live_files.$t" -> cat.store().dataFilesAsOf(t, None).size.toDouble)
  }

  override def finalCheck(): Seq[String] = tables.flatMap { t =>
    val got = cat.table(t).collect().map(r => r.getLong(0) -> Rec(r.getInt(1), r.getLong(2), r.getString(3))).toMap
    Check.expect(got == model(t).toMap, s"final table $t differs from the model " +
      s"(${got.size} rows, model ${model(t).size})")
  }

  // write-path counts per statement, traced run only
  private var before: (Set[String], Set[String]) = (Set.empty, Set.empty)

  private def files(t: String): (Set[String], Set[String]) = {
    val fs = cat.store().dataFilesAsOf(t, None)
    (fs.map(_.path).toSet, fs.flatMap(_.deletes.map(_.path)).toSet)
  }

  override def beforeOp(op: Op): Unit =
    if (tracer.isDefined && op.cls == "commit") before = files(op.tables.head)

  override def afterOp(op: Op, seq: Long): Unit = tracer.foreach { tr =>
    val t = op.tables.head
    if (op.cls == "commit") {
      val ty = op.kind.takeWhile(_ != '.') match { case "insert" => "append"; case x => x }
      val (d0, x0) = before
      val (d1, x1) = files(t)
      val dir = cat.store().tableDir(t).toUri.getPath
      def size(p: String): Double = {
        val f = Paths.get(if (p.startsWith("/")) p else s"$dir/$p")
        if (Files.exists(f)) Files.size(f).toDouble else 0.0
      }
      tr.add(seq, s"store.$ty.ops", 1)
      tr.add(seq, s"store.$ty.data_files_added", (d1 -- d0).size)
      tr.add(seq, s"store.$ty.delete_files_added", (x1 -- x0).size)
      tr.add(seq, s"store.$ty.files_rewritten", (d0 -- d1).size)
      tr.add(seq, s"store.$ty.bytes_added", ((d1 -- d0) ++ (x1 -- x0)).toSeq.map(size).sum)
      tr.add(seq, s"store.$ty.live_files", d1.size)
    } else tr.add(seq, "store.files_in_snapshot", files(t)._1.size)
  }
}
