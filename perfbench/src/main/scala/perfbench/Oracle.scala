package perfbench

import scala.collection.mutable

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Independent BM25 oracle. It takes only the (doc_id, word) token rows of
  * `Indexer.flatWords` and computes term frequencies, document lengths,
  * document frequencies, idf = log10(N/df), avgdl = Σdl/N and every score
  * in plain Scala, so none of the engine's TF, DL, IDF, join, top-k or
  * snippet code is trusted.
  */
final class Oracle private (
    words: Map[String, Int],
    postings: Array[Array[Long]], // per word id: doc_ids
    tfs: Array[Array[Int]],       // per word id: tf aligned with postings
    dl: mutable.LongMap[Int],
    val nDocs: Long,
    val avgdl: Double,
    val tokens: Long) {

  import Oracle._

  def vocab: Int = words.size

  /** Every matching document's exact score (OR), or only the documents
    * holding every term (AND).
    */
  def scores(terms: Seq[String], conjunctive: Boolean): mutable.LongMap[Double] = {
    val ts = terms.distinct
    val ids = ts.flatMap(words.get)
    val acc = mutable.LongMap.empty[Double]
    val hits = mutable.LongMap.empty[Int]
    if (conjunctive && ids.size < ts.size) return acc
    for (w <- ids) {
      val idf = math.log10(nDocs.toDouble / postings(w).length)
      var i = 0
      while (i < postings(w).length) {
        val d = postings(w)(i)
        val s = bm25(tfs(w)(i), dl(d), idf, avgdl)
        acc(d) = acc.getOrElse(d, 0.0) + s
        hits(d) = hits.getOrElse(d, 0) + 1
        i += 1
      }
    }
    if (conjunctive) acc.filterInPlace { case (d, _) => hits(d) == ids.size }
    acc
  }
}

object Oracle {
  val K1 = 1.2
  val B = 0.75

  /** The BM25 partial, written in the engine's operation order so that
    * single-term scores agree bit for bit.
    */
  def bm25(tf: Int, dl: Int, idf: Double, avgdl: Double): Double =
    idf * (tf * (K1 + 1.0)) / (tf + K1 * ((1.0 - B) + B * dl / avgdl))

  /** FIXTURES.md §D: tf=2, dl=100, avgdl=100, idf=0.5 → 0.6875. */
  def selfCheck(): Unit = {
    val s = bm25(2, 100, 0.5, 100.0)
    require(math.abs(s - 0.6875) < 1e-12, s"oracle BM25 arithmetic is off: $s != 0.6875")
  }

  /** Builds the oracle from the engine's flat (doc_id, word) rows, streamed
    * to the driver one document at a time.
    */
  def fromFlatWords(flat: DataFrame): Oracle = {
    val wordIds = mutable.HashMap.empty[String, Int]
    val postB = mutable.ArrayBuffer.empty[mutable.ArrayBuilder.ofLong]
    val tfB = mutable.ArrayBuffer.empty[mutable.ArrayBuilder.ofInt]
    val dl = mutable.LongMap.empty[Int]
    var tokens = 0L
    val perDoc = flat.groupBy("doc_id").agg(collect_list("word").as("words"))
    val it = perDoc.toLocalIterator()
    val counts = mutable.HashMap.empty[String, Int]
    while (it.hasNext) {
      val row = it.next()
      val d = row.getLong(0)
      val ws = row.getList[String](1)
      counts.clear()
      var i = 0
      while (i < ws.size) {
        val w = ws.get(i)
        counts(w) = counts.getOrElse(w, 0) + 1
        i += 1
      }
      dl(d) = ws.size
      tokens += ws.size
      for ((w, c) <- counts) {
        val id = wordIds.getOrElseUpdate(w, {
          postB += new mutable.ArrayBuilder.ofLong
          tfB += new mutable.ArrayBuilder.ofInt
          postB.size - 1
        })
        postB(id) += d
        tfB(id) += c
      }
    }
    val n = dl.size.toLong
    val sumDl = dl.valuesIterator.map(_.toLong).sum
    new Oracle(wordIds.toMap, postB.map(_.result()).toArray, tfB.map(_.result()).toArray,
      dl, n, sumDl.toDouble / n, tokens)
  }

  /** Spark's `round(x, 4)` on a double. */
  def round4(x: Double): Double =
    BigDecimal(x).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble

  val RelTol = 1e-9

  /** The scores the engine may legitimately report for a document whose
    * exact score is `s`: anything within `RelTol` relative, after the
    * 4-decimal rounding when the mode rounds.
    */
  private def bounds(s: Double, rounded: Boolean): (Double, Double) = {
    val e = math.abs(s) * RelTol
    if (rounded) (round4(s - e), round4(s + e)) else (s - e, s + e)
  }

  /** Checks one served top-k against the exact scores. Returns the
    * problems found; empty means correct. `got` is (doc_id, score,
    * snippet) in the order served.
    */
  def check(exact: mutable.LongMap[Double], got: Seq[(Long, Double, String)], k: Int,
      rounded: Boolean, snippets: Map[Long, String]): Seq[String] = {
    val errs = mutable.ArrayBuffer.empty[String]
    val want = math.min(k, exact.size)
    if (got.size != want) errs += s"served ${got.size} results, expected $want"
    if (got.map(_._1).distinct.size != got.size) errs += "duplicate doc_id in results"
    for ((d, s, snip) <- got) {
      exact.get(d) match {
        case None => errs += s"doc $d does not match the query"
        case Some(x) =>
          val (lo, hi) = bounds(x, rounded)
          if (s < lo - 1e-12 || s > hi + 1e-12) errs += s"doc $d score $s, exact $x"
      }
      if (!snippets.get(d).contains(snip)) errs += s"doc $d snippet differs from its first opinion"
    }
    // order: (score desc, doc_id asc) on the served scores
    got.sliding(2).foreach {
      case Seq((d1, s1, _), (d2, s2, _)) =>
        if (s1 < s2 || (s1 == s2 && d1 > d2)) errs += s"order broken at doc $d1, $d2"
      case _ =>
    }
    // completeness: no unserved document must outrank the last served one
    if (got.nonEmpty && errs.isEmpty) {
      val (lastD, lastS, _) = got.last
      val served = got.map(_._1).toSet
      exact.foreach { case (d, x) =>
        if (!served(d)) {
          val (lo, hi) = bounds(x, rounded)
          if (lo > lastS || (lo == hi && hi == lastS && d < lastD))
            errs += s"doc $d (exact $x) should outrank served doc $lastD ($lastS)"
        }
      }
    }
    errs.toSeq
  }
}
