package graftbench

import scala.util.Random

import graft.ext.TextAnalysis

/** Seeded documents for the corpus operators, and the driver-side
  * references their results are checked against. Words come from a
  * 3,000-word synthetic vocabulary plus eight stopwords, drawn with a
  * skew towards the head, so unrelated documents share no 3-shingles in
  * practice and every near-duplicate pair is one the generator planted. */
final class Corpus(r: Random) {
  private val syll = Seq("ka", "lo", "mi", "ne", "ru", "sa", "ti", "vo", "ze", "pa", "do", "gu")
  val vocab: IndexedSeq[String] = (TextAnalysis.englishStopwords.take(8) ++
    (0 until 3000).map(i => Seq(i % 12, (i / 12) % 12, (i / 144) % 12, i / 1728).map(syll).mkString))
    .toIndexedSeq

  private def word(): String = vocab((vocab.size * math.pow(r.nextDouble(), 2)).toInt)
  private def words(n: Int): Seq[String] = Seq.fill(n)(word())

  /** A fresh document of 40 to 159 words. */
  def text(): String = words(40 + r.nextInt(120)).mkString(" ")

  /** `n` documents with ids from `first`: 2.5% are near-duplicates of an
    * earlier long document (one late word changed, 3-shingle Jaccard at
    * least 0.88) and 2% exact duplicates differing only in case and
    * spacing. Returns the documents and the planted pairs. */
  def initial(first: Long, n: Int): (IndexedSeq[String], Set[(Long, Long)]) = {
    val base = Array.fill(n)(words(40 + r.nextInt(120)))
    val nTwin = n / 40
    val nExact = n / 50
    val firstCopy = n - nTwin - nExact
    val used = scala.collection.mutable.Set.empty[Int]
    def source(minLen: Int): Int = Iterator.continually(r.nextInt(firstCopy))
      .filter(i => base(i).length >= minLen && used.add(i)).next()
    val twins = (firstCopy until firstCopy + nTwin).map { j =>
      val i = source(80)
      val t = base(i).toArray
      t(t.length - 2) = Iterator.continually(word()).filter(_ != t(t.length - 2)).next()
      base(j) = t.toSeq
      (i, j)
    }
    val exact = (firstCopy + nTwin until n).map(j => (source(0), j)).toMap.map(_.swap)
    val texts = base.indices.map { j =>
      exact.get(j).map(i => base(i).mkString("  ").capitalize).getOrElse(base(j).mkString(" "))
    }
    (texts, (twins ++ exact.toSeq.map(_.swap)).map { case (i, j) => (first + i, first + j) }.toSet)
  }

  def unitVector(dim: Int): Array[Float] = {
    val v = Array.fill(dim)(r.nextGaussian().toFloat)
    val n = math.sqrt(v.map(x => x.toDouble * x).sum).toFloat
    v.map(_ / n)
  }
}

object Corpus {
  /** TextAnalysis.normalize, restated: lowercase, non-alphanumerics to
    * spaces, whitespace collapsed. */
  def normalized(s: String): String =
    s.toLowerCase.replaceAll("[^a-z0-9\\s]", " ").replaceAll("\\s+", " ").trim

  /** Ids exact dedup must keep: the least id of each normalized text. */
  def survivors(docs: Iterable[(Long, String)]): Set[Long] =
    docs.groupBy(d => normalized(d._2)).values.map(_.map(_._1).min).toSet

  /** Pairs with identical normalized text. */
  def identicalPairs(docs: Iterable[(Long, String)]): Set[(Long, Long)] =
    docs.groupBy(d => normalized(d._2)).values.flatMap { g =>
      val ids = g.map(_._1).toSeq.sorted
      for (i <- ids.indices; j <- i + 1 until ids.size) yield (ids(i), ids(j))
    }.toSet

  /** BM25 (k1 = 1.2, b = 0.75, Lucene's non-negative idf). */
  def bm25(docs: Iterable[(Long, String)], terms: Seq[String]): Map[Long, Double] = {
    val toks = docs.map { case (id, s) => id -> normalized(s).split(" ").toSeq }.toSeq
    val n = toks.size.toDouble
    val avgdl = toks.map(_._2.size.toDouble).sum / n
    val df = terms.map(t => toks.count(_._2.contains(t)).toDouble)
    toks.map { case (id, ts) =>
      val dl = ts.size.toDouble
      id -> terms.indices.map { j =>
        val tf = ts.count(_ == terms(j)).toDouble
        val idf = math.log((n - df(j) + 0.5) / (df(j) + 0.5) + 1.0)
        idf * (tf * 2.2) / (tf + 1.2 * (0.25 + 0.75 * dl / avgdl))
      }.reduceLeft(_ + _)
    }.toMap
  }

  private val stop = TextAnalysis.englishStopwords.toSet

  /** The quality score's four terms, for text without punctuation. */
  def quality(s: String): Double = {
    val len = s.length.toDouble
    val toks = s.toLowerCase.trim.split("\\s+").toSeq
    val nTok = if (s.trim.isEmpty) 0.0 else toks.size.toDouble
    val alpha = s.count(c => (c >= 'a' && c <= 'z') || (c >= 'A' && c <= 'Z')).toDouble
    val stops = toks.distinct.count(stop).toDouble
    Seq(math.min(len / 500.0, 1.0), if (len > 0) alpha / len else 0.0,
      if (len > 0) 1.0 else 0.0, if (nTok > 0) math.min(stops / nTok * 2.0, 1.0) else 0.0)
      .reduceLeft(_ + _) / 4.0
  }

  def cosine(v: Array[Float], q: Array[Float]): Double = {
    var dot = 0.0; var nv = 0.0; var nq = 0.0
    v.indices.foreach { i => dot += v(i) * q(i); nv += v(i) * v(i); nq += q(i) * q(i) }
    dot / (math.sqrt(nv) * math.sqrt(nq))
  }
}
