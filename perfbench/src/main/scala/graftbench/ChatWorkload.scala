package graftbench

import java.nio.file.Path
import java.time.LocalDate

import scala.collection.mutable
import scala.util.Random

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.StructType

import graft.app.{PredictResult, Predictor}
import graft.catalog.GraftCatalog
import graft.ingest.TelcoDataGen
import graft.present.{Introspector, PlotDecider}
import graft.sql.Engine
import graft.translate.{QueryTranslator, RuleTranslator}

/** The reference journey: `Predictor.predict` with the offline rule
  * translator over the telco warehouse at reference scale. Chosen because
  * it scans little and is dominated by fixed per-question cost. */
final class ChatWorkload(spark: SparkSession, seed: Long) extends Workload {
  val name = "chat"
  val headline = "predict"
  val deckSeconds = 3.6

  private val tables = Seq("customers", "plans", "subscriptions", "usage_records", "recharges")
  private val schemas: Map[String, StructType] = Map(
    "customers" -> TelcoDataGen.customersSchema, "plans" -> TelcoDataGen.plansSchema,
    "subscriptions" -> TelcoDataGen.subscriptionsSchema,
    "usage_records" -> TelcoDataGen.usageSchema, "recharges" -> TelcoDataGen.rechargesSchema)
  private var inputs: Path = _
  private var cat: GraftCatalog = _
  private var engine: Engine = _
  private var predictor: Predictor = _
  private var last: PredictResult = _
  private var lastQuestion = ""
  private var toSqlStart = 0.0

  /** Translator seam wrapper: times `toSql` as its own span. */
  private final class TimedTranslator(inner: QueryTranslator) extends QueryTranslator {
    override def toSql(question: String, tableInfo: String, topK: Int): String =
      tracer match {
        case Some(t) =>
          toSqlStart = t.nowMs
          t.span("translate.to_sql")(inner.toSql(question, tableInfo, topK))
        case None => inner.toSql(question, tableInfo, topK)
      }
  }

  private def src(t: String, v: Int) = inputs.resolve(s"$t/v$v").toString

  def generate(dir: Path): Map[String, Long] = {
    inputs = dir
    val gen = new TelcoDataGen(spark, seed)
    def save(t: String, v: Int, n: Long, df: DataFrame): Long = { df.write.parquet(src(t, v)); n }
    def prepaid(subs: DataFrame): Seq[Int] =
      subs.collect().collect { case r if r.getInt(2) <= 3 => r.getInt(1) }.toSeq.distinct.sorted
    // snapshot 1: 200/6/200/5000/1000 rows (create_iceberg.py)
    val subs1 = gen.subscriptions(1 to 200)
    val n1 = Seq(save("customers", 1, 200, gen.customers(200)), save("plans", 1, 6, gen.plans()),
      save("subscriptions", 1, 200, subs1),
      save("usage_records", 1, 5000, gen.usageRecords(5000, 1 to 200)),
      save("recharges", 1, 1000, gen.recharges(1000, prepaid(subs1))))
    // snapshot 2: the 50/50/1000/200-row append (append_iceberg.py)
    val subs2 = gen.subscriptions(201 to 250, startId = 201, alwaysActive = true)
    val n2 = Seq(save("customers", 2, 50, gen.customers(50, startId = 201)),
      save("subscriptions", 2, 50, subs2),
      save("usage_records", 2, 1000, gen.usageRecords(1000, 1 to 250, startId = 5001)),
      save("recharges", 2, 200, gen.recharges(200, prepaid(subs1) ++ prepaid(subs2), startId = 1001)))
    // the reference: plain parquet scans, latest and as of snapshot 1
    tables.foreach { t =>
      val v1 = spark.read.schema(schemas(t)).parquet(src(t, 1))
      v1.createOrReplaceTempView(s"ref_v1_$t")
      val latest = if (t == "plans") v1 else v1.union(spark.read.schema(schemas(t)).parquet(src(t, 2)))
      latest.createOrReplaceTempView(s"ref_$t")
    }
    Map("rows_snapshot1" -> n1.sum, "rows_appended" -> n2.sum)
  }

  def build(dir: Path): Unit = {
    cat = new GraftCatalog(dir, spark)
    cat.createDatabase("telco"); cat.use("telco")
    tables.foreach { t =>
      cat.createTable(t, schemas(t))
      cat.append(t, spark.read.schema(schemas(t)).parquet(src(t, 1)), 1000L)
    }
    tables.filter(_ != "plans").foreach { t =>
      cat.append(t, spark.read.schema(schemas(t)).parquet(src(t, 2)), 2000L)
    }
    engine = new Engine(cat)
    predictor = new Predictor(engine, new TimedTranslator(new RuleTranslator()), new Introspector(cat))
  }

  /** (kind, question, reference SQL, tables the question reads): two of
    * the rule translator's golden questions and three SQL-passthrough
    * questions, two of them time travel. Table names in the reference are
    * the plain-parquet views. */
  private def questions(r: Random): Seq[(String, String, String, Seq[String])] = {
    val day = LocalDate.parse("2021-06-01").plusDays(r.nextInt(1600).toLong)
    val since = LocalDate.parse("2025-01-01").plusDays(r.nextInt(360).toLong)
    val ms = 100 + r.nextInt(800)
    val plan = 1 + r.nextInt(6)
    Seq(
      ("postpaid", "How many customers are subscribed to postpaid plans?",
        "SELECT COUNT(*) FROM ref_customers c JOIN ref_subscriptions s ON c.customer_id = s.customer_id " +
          "WHERE s.plan_id IN (SELECT plan_id FROM ref_plans WHERE plan_type = 'Postpaid')",
        Seq("customers", "subscriptions", "plans")),
      ("registered_since", s"How many customers registered since $day?",
        s"SELECT COUNT(*) FROM ref_customers WHERE registration_date >= '$day'", Seq("customers")),
      ("asof_count", s"SELECT COUNT(*) FROM customers FOR SYSTEM_TIME AS OF '1970-01-01 00:00:01.$ms'",
        "SELECT COUNT(*) FROM ref_v1_customers", Seq("customers")),
      ("asof_status", "SELECT status, COUNT(*) AS n FROM subscriptions FOR SYSTEM_TIME AS OF " +
        s"'1970-01-01 00:00:01.$ms' WHERE plan_id <= $plan GROUP BY status ORDER BY status",
        s"SELECT status, COUNT(*) AS n FROM ref_v1_subscriptions WHERE plan_id <= $plan " +
          "GROUP BY status ORDER BY status", Seq("subscriptions")),
      ("top_usage", "SELECT c.customer_id, ROUND(SUM(u.data_used_mb), 2) AS mb FROM usage_records u " +
        s"JOIN customers c ON u.customer_id = c.customer_id WHERE u.usage_date >= '$since' " +
        "GROUP BY c.customer_id ORDER BY mb DESC, c.customer_id LIMIT 10",
        "SELECT c.customer_id, ROUND(SUM(u.data_used_mb), 2) AS mb FROM ref_usage_records u " +
          s"JOIN ref_customers c ON u.customer_id = c.customer_id WHERE u.usage_date >= '$since' " +
          "GROUP BY c.customer_id ORDER BY mb DESC, c.customer_id LIMIT 10",
        Seq("usage_records", "customers"))
    )
  }

  def deck(round: Int, full: Boolean): Seq[Op] = {
    val r = new Random(seed * 1000003L + round)
    questions(r).map { case (kind, q, ref, ts) =>
      Op(kind, "predict", () => predict(q), {
        case res: PredictResult =>
          if (res.failed) Some(res.answer.take(300))
          else {
            val want = reference.getOrElseUpdate(ref, spark.sql(ref).collect())
            // grouped results without ORDER BY compare as sorted renderings
            val got = res.rendered.getOrElse("")
            val ordered = ref.contains("ORDER BY") || want.length <= 1
            if (ordered) Check.rendered(got, Engine.render(want))
            else Check.rendered(sortRendered(got), sortRendered(Engine.render(want)))
          }
        case other => Some(s"unexpected result $other")
      }, ts)
    }
  }

  /** Reference answers by reference SQL: several shapes ask the same
    * question in every deck, and the source files never change. */
  private val reference = mutable.Map.empty[String, Array[Row]]

  private def sortRendered(s: String): String =
    s.stripPrefix("[").stripSuffix("]").split("\\), \\(").map(_.stripPrefix("(").stripSuffix(")"))
      .sorted.mkString("[(", "), (", ")]")

  private def predict(q: String): PredictResult = { lastQuestion = q; tracer match {
    case None => last = predictor.predict(q); last
    case Some(t) =>
      // stage boundaries from the public emit callback
      var marks = Vector.empty[(String, Double)]
      val res = predictor.predict(q, m => marks :+= (m -> t.nowMs))
      val end = t.nowMs
      def at(p: String => Boolean) = marks.collectFirst { case (m, ts) if p(m) => ts }
      val running = at(_.startsWith(Predictor.Running))
      val summarizing = at(_ == Predictor.Summarizing)
      at(_ == Predictor.Thinking).foreach(s => t.interval("present.table_info", s, toSqlStart))
      running.foreach(s => t.interval("sql.execute", s, summarizing.getOrElse(end)))
      summarizing.foreach(s => t.interval("present.summarize", s, end))
      last = res; res
  }}

  override def afterOp(op: Op, seq: Long): Unit = tracer.foreach { t =>
    val mine = t.spans.filter(_.op == seq)
    def total(n: String) = mine.filter(_.name == n).map(_.durMs).sum
    t.add(seq, "present.table_info_ms", total("present.table_info"))
    t.add(seq, "translate.to_sql_ms", total("translate.to_sql"))
    t.add(seq, "present.summarize_ms", total("present.summarize"))
    // Engine.sql, render and the plot decision run inside predict with no
    // boundary the public API reports; they are timed by replaying the
    // same public calls on the same SQL, outside the operation
    last.sql.foreach { sql =>
      val (df, sqlS) = Main.timeS(engine.sql(sql))
      val rows = df.take(1000)
      val (_, renderS) = Main.timeS(Engine.render(rows))
      val (_, plotS) = Main.timeS(PlotDecider.decide(df.schema, rows.length.toLong, lastQuestion))
      t.add(seq, "sql.engine_sql_ms", sqlS * 1000)
      t.add(seq, "present.render_ms", renderS * 1000)
      t.add(seq, "present.plot_ms", plotS * 1000)
    }
    // the introspector samples every table; the question reads its own
    val read = tables ++ op.tables
    t.add(seq, "store.files_in_snapshot",
      read.map(tb => cat.store().dataFilesAsOf(tb, None).size).sum.toDouble)
  }
}
