package graft.search

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, StructField, StructType}

import graft.index.{IndexTables, Indexer, ResidentIndex}
import graft.text.Tokenizer

/** Online query path — the single-plan re-expression of the reference's
  * serving pipeline (`pyapp.py:89-121`, traced in SURVEY.md §3.1):
  *
  *   query → tokenize (driver-side) → TF filtered to query terms
  *         → ⋈ IDF (broadcast) → ⋈ doc_lengths → BM25 column arithmetic
  *         → sum per doc → top-k → (optionally) ⋈ text for snippets
  *
  * Fixes over the reference, per SURVEY.md §3.1:
  *  - the N+1 text lookup (`pyapp.py:110-114` runs one filter+collect job
  *    per result row) becomes ONE broadcast join of the top-k rows against
  *    the corpus in the same plan;
  *  - snippet truncation is a native expression (F6), not driver string
  *    code;
  *  - top-k goes through `orderBy(desc).limit(k)` which Catalyst plans as
  *    `TakeOrderedAndProject` — a true distributed top-k, no full sort.
  *
  * Scale notes (100 TB): the IDF side is filtered to |query| rows before
  * joining — explicitly `broadcast()`. The TF table is the big side and is
  * filtered by an IN-list on `word` that pushes down to the Parquet scan.
  * doc_lengths at 100 TB has one row per document and co-shuffles with the
  * filtered TF on doc_id (both sides tiny after term filtering); AQE picks
  * broadcast when the filtered TF side fits.
  *
  * Resident serving: an index from [[Indexer.loadArtifacts]] that carries
  * a [[ResidentIndex]] is scored on the driver instead — the same
  * partials ([[BM25.partial]]), summed per doc in ascending term-id order,
  * returned as a local relation in the same schema and (score desc,
  * doc_id asc) order. A caller's `.limit(k).collect()` folds into that
  * relation and runs no Spark job.
  */
object Search {

  /** Score all docs matching `terms`, descending. Output: (doc_id, score).
    * Deterministic: ties broken by doc_id ascending.
    */
  def scoreTerms(t: IndexTables, terms: Seq[String], k1: Double = BM25.DefaultK1,
      b: Double = BM25.DefaultB): DataFrame = residentFor(t, k1, b) match {
    case Some(r) =>
      val s = residentSums(r, terms, k1, b)
      residentFrame(r, s.docs, s.score)
    case None =>
      // left joins for fidelity with `pyapp.py:94-95`; on a consistent
      // index they never produce nulls (every indexed word has an IDF row,
      // every doc a length row — SURVEY.md §2.4 note), so the optimizer's
      // plan matches the inner-join one
      t.termFrequencies.filter(col("word").isin(terms: _*))
        .join(broadcast(t.idfValues.filter(col("word").isin(terms: _*))), Seq("word"), "left")
        .join(t.docLengths, Seq("doc_id"), "left")
        .withColumn("partial",
          BM25.score(col("term_freq"), col("doc_length"), col("idf"), lit(t.avgdl), k1, b))
        .groupBy("doc_id")
        .agg(sum("partial").as("score"))
        .orderBy(col("score").desc, col("doc_id").asc)
  }

  /** CONJUNCTIVE (boolean-AND) scoring: only documents containing
    * EVERY query term are ranked — the strict-match mode every search
    * engine serves beside the default disjunctive OR ([[scoreTerms]]).
    * One plan, ONE shuffle: the same filtered-TF ⋈ idf ⋈ doc_lengths
    * lineage as scoreTerms with the matched-term count folded into the
    * SAME hash aggregate (TF has one row per (doc, word), so
    * count(*) IS the distinct-term count), then the |terms| filter —
    * no second pass, no semi-join round. Output: (doc_id, score)
    * descending, ties by doc_id.
    */
  def scoreTermsConjunctive(t: IndexTables, terms: Seq[String],
      k1: Double = BM25.DefaultK1, b: Double = BM25.DefaultB): DataFrame = {
    val ts = terms.distinct
    residentFor(t, k1, b) match {
      case Some(r) =>
        val s = residentSums(r, ts, k1, b)
        residentFrame(r, s.docs.filter(s.hits(_) == ts.size), s.score)
      case None =>
        t.termFrequencies.filter(col("word").isin(ts: _*))
          .join(broadcast(t.idfValues.filter(col("word").isin(ts: _*))),
            Seq("word"), "left")
          .join(t.docLengths, Seq("doc_id"), "left")
          .withColumn("partial",
            BM25.score(col("term_freq"), col("doc_length"), col("idf"),
              lit(t.avgdl), k1, b))
          .groupBy("doc_id")
          .agg(sum("partial").as("score"), count(lit(1)).as("n_terms"))
          .filter(col("n_terms") === ts.size)
          .select(col("doc_id"), col("score"))
          .orderBy(col("score").desc, col("doc_id").asc)
    }
  }

  /** Top-k (doc_id, score) for a free-text query over a (doc_id, text)
    * corpus. Builds the index in-plan (batch engine, no serving state).
    */
  def topK(docs: DataFrame, query: String, k: Int = 10, stem: Boolean = true): DataFrame = {
    val t = Indexer.build(docs, stem)
    val terms = Tokenizer.tokenize(query, stem).distinct
    scoreTerms(t, terms).limit(k)
  }

  /** Top-k with text snippet — the fixed serving path (one plan, broadcast
    * join of the k result rows back to the corpus). Output:
    * (doc_id, score, snippet).
    */
  def topKWithSnippet(docs: DataFrame, query: String, k: Int = 10,
      stem: Boolean = true, maxLen: Int = 160): DataFrame = {
    val top = topK(docs, query, k, stem)
    broadcast(top)
      .join(docs.select("doc_id", "text"), Seq("doc_id"))
      .withColumn("snippet", snippet(col("text"), maxLen))
      .select("doc_id", "score", "snippet")
      .orderBy(col("score").desc, col("doc_id").asc)
  }

  /** Per-term score UPPER BOUNDS for MaxScore pruning: for every word,
    * the max over its postings of the BM25 partial — ub(t) ≥ any
    * contribution t can make to any document's score. ONE map-side-
    * combined hash aggregate over TF ⋈ doc_lengths ⋈ idf (the same
    * join shape as [[Indexer.docFreqIdf]]'s inputs), emitting one row
    * per vocabulary word — at 100 TB this is an INDEX-TIME artifact,
    * one small column beside `idf_values`, amortized over every query
    * (r11 VERDICT "Next round" #1). Output: (word, ub).
    */
  def termBounds(t: IndexTables, k1: Double = BM25.DefaultK1,
      b: Double = BM25.DefaultB): DataFrame =
    t.termFrequencies
      .join(t.docLengths, Seq("doc_id"))
      .join(t.idfValues.select("word", "idf"), Seq("word"))
      .withColumn("partial",
        BM25.score(col("term_freq"), col("doc_length"), col("idf"), lit(t.avgdl), k1, b))
      .groupBy("word")
      .agg(max("partial").as("ub"))

  /** Safety slack for pruning against the 4dp-ROUNDED final ordering:
    * a doc with unrounded score < θ − slack has rounded score strictly
    * below round(θ, 4) (round moves a value by ≤ 5·10⁻⁵ and is
    * monotone), so it can never displace the ≥ k seed docs scoring
    * ≥ θ — even under the (rounded score, doc_id) tie-break.
    */
  private[search] val PruneSlack = 1e-4

  /** The MaxScore essential set (Turtle & Flood, IPM'95): terms sorted
    * ASCENDING by upper bound; the longest prefix whose cumulative
    * bound sum stays below θ − slack is non-essential — a document
    * matching ONLY those terms cannot reach the current top-k floor θ.
    * Pure driver arithmetic over |query| values (S4). Ties broken by
    * word so the split is deterministic.
    */
  private[search] def essentialTerms(ubs: Map[String, Double], theta: Double,
      slack: Double = PruneSlack): Seq[String] = {
    val asc = ubs.toSeq.sortBy { case (w, ub) => (ub, w) }
    val cum = asc.scanLeft(0.0) { case (acc, (_, ub)) => acc + ub }.tail
    asc.zip(cum).dropWhile(_._2 < theta - slack).map(_._1._1)
  }

  /** MaxScore-PRUNED BM25 top-k — bitwise-equal results to the unpruned
    * [[scoreTerms]] path (same arithmetic, same 4dp rounding, same
    * (score desc, doc_id) order), reading FEWER postings when terms are
    * selective. Three stages, all k- or |query|-bounded driver state:
    *
    *  1. bound lookup: the query terms' rows of `bounds` (from
    *     [[termBounds]] — an index-time artifact) collect to |query|
    *     doubles (S4);
    *  2. seed pass: fully score only the docs containing the single
    *     highest-bound term t*; θ = the k-th best full score among
    *     them (a LOWER bound on the true k-th score, since seeds are a
    *     subset of all matching docs — pruning with it is conservative);
    *  3. pruned pass: essential terms = [[essentialTerms]](ubs, θ); a
    *     doc matching only non-essential terms scores < θ − slack and
    *     is skipped. Candidates = docs with ≥ 1 essential-term posting
    *     (one semi-join); candidates are fully scored and the top-k
    *     taken.
    *
    * At 100 TB stage 3's candidate generation reads ONLY the essential
    * terms' posting lists — the stopword-like low-idf lists that
    * dominate posting volume are exactly the ones MaxScore drops. The
    * reference scores every posting of every query term
    * (`pyapp.py:93-107`); so does [[scoreTerms]] — this is the
    * serving-scale upgrade on the engine's own flagship.
    *
    * Falls back to the unpruned plan when fewer than k docs match t*
    * (θ would be undefined; the query is already cheap then).
    */
  def prunedTopK(t: IndexTables, bounds: DataFrame, terms: Seq[String],
      k: Int = 10, k1: Double = BM25.DefaultK1,
      b: Double = BM25.DefaultB): DataFrame = residentFor(t, k1, b) match {
    case Some(r) =>
      // exact scores of every matching doc, rounded as Spark's round(_, 4)
      // rounds, then the top k: the result MaxScore pruning is proven to
      // equal, without reading `bounds`
      if (!terms.exists(r.termId(_) >= 0)) noHits(t)
      else {
        val s = residentSums(r, terms, k1, b)
        s.docs.foreach(d => s.score(d) = round4(s.score(d)))
        residentFrame(r, s.docs, s.score, k)
      }
    case None => sparkPrunedTopK(t, bounds, terms, k, k1, b)
  }

  /** The empty (doc_id, score) result of a query with no indexed term. */
  private def noHits(t: IndexTables): DataFrame =
    t.docLengths.select(col("doc_id"), lit(0.0).as("score")).limit(0)

  private def sparkPrunedTopK(t: IndexTables, bounds: DataFrame, terms: Seq[String],
      k: Int, k1: Double, b: Double): DataFrame = {
    def finish(scored: DataFrame): DataFrame = scored
      .withColumn("score", round(col("score"), 4))
      .orderBy(col("score").desc, col("doc_id").asc)
      .limit(k)
    val ubs = bounds.filter(col("word").isin(terms: _*))
      .select("word", "ub").collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    // terms with no posting (not in the index) contribute nothing
    val present = terms.filter(ubs.contains)
    if (present.isEmpty) return noHits(t)
    def fullScore(candidates: DataFrame): DataFrame =
      t.termFrequencies.filter(col("word").isin(present: _*))
        // no join hint: the candidate side shrinks with term selectivity
        // but is not bounded — AQE picks broadcast when it fits
        .join(candidates, Seq("doc_id"), "left_semi")
        .join(broadcast(t.idfValues.filter(col("word").isin(present: _*))), Seq("word"), "left")
        .join(t.docLengths, Seq("doc_id"), "left")
        .withColumn("partial",
          BM25.score(col("term_freq"), col("doc_length"), col("idf"), lit(t.avgdl), k1, b))
        .groupBy("doc_id")
        .agg(sum("partial").as("score"))
    val tstar = present.maxBy(w => (ubs(w), w))
    val seedTop = fullScore(
        t.termFrequencies.filter(col("word") === tstar).select("doc_id"))
      .orderBy(col("score").desc, col("doc_id").asc)
      .limit(k).collect()
    if (seedTop.length < k) return finish(scoreTerms(t, present, k1, b))
    val theta = seedTop.map(_.getDouble(1)).min
    val essential = essentialTerms(ubs, theta)
    val candidates = t.termFrequencies
      .filter(col("word").isin(essential: _*))
      .select("doc_id").distinct()
    finish(fullScore(candidates))
  }

  /** The resident postings of `t` when they may score this call: attached
    * by [[Indexer.loadArtifacts]], built from exactly `t`'s tables, and
    * k1 ≥ 0, 0 ≤ b ≤ 1 — the range where every BM25 denominator is
    * positive (a zero one is null in Spark and has no driver twin).
    */
  private def residentFor(t: IndexTables, k1: Double, b: Double): Option[ResidentIndex] =
    t.resident.filter(r => r.servesFor(t) && k1 >= 0 && b >= 0 && b <= 1)

  /** Per-doc sums over one query: `docs` lists the doc ordinals touched,
    * `score` and `hits` (matched postings, the plans' count(*)) are
    * indexed by ordinal.
    */
  private final class Sums(val docs: Array[Int], val score: Array[Double], val hits: Array[Int])

  /** The driver twin of TF ⋈ idf ⋈ doc_lengths → Σ partial per doc, over
    * the postings of the distinct known `terms`, added in ascending
    * term-id order.
    */
  private def residentSums(r: ResidentIndex, terms: Seq[String], k1: Double,
      b: Double): Sums = {
    val ids = terms.map(r.termId).filter(_ >= 0).distinct.sorted
    val score = new Array[Double](r.nDocs)
    val hits = new Array[Int](r.nDocs)
    val docs = Array.newBuilder[Int]
    for (id <- ids) {
      val idf = r.idf(id)
      var p = r.postStart(id)
      val end = r.postStart(id + 1)
      while (p < end) {
        val d = r.postDoc(p)
        if (hits(d) == 0) docs += d
        score(d) += BM25.partial(r.postTf(p), r.docLen(d), idf, r.avgdl, k1, b)
        hits(d) += 1
        p += 1
      }
    }
    new Sums(docs.result(), score, hits)
  }

  /** Spark's `round(x, 4)` on a double: HALF_UP on its shortest decimal
    * string.
    */
  private def round4(x: Double): Double =
    if (x.isNaN || x.isInfinite) x
    else java.math.BigDecimal.valueOf(x).setScale(4, java.math.RoundingMode.HALF_UP).doubleValue

  /** The first `k` of `docs` by (score desc, doc_id asc) as a local
    * (doc_id, score) relation with the Spark plans' schema. Doc ordinals
    * follow doc_id, so they break ties.
    */
  private def residentFrame(r: ResidentIndex, docs: Array[Int], score: Array[Double],
      k: Int = Int.MaxValue): DataFrame = {
    val ranked = docs.sortWith { (x, y) =>
      if (score(x) != score(y)) score(x) > score(y) else x < y
    }
    val rows = new java.util.ArrayList[Row](math.min(k, ranked.length))
    ranked.iterator.take(k).foreach(d => rows.add(Row(r.docIds(d), score(d))))
    r.termFrequencies.sparkSession.createDataFrame(rows,
      StructType(Seq(r.docIdField, StructField("score", DoubleType))))
  }

  /** F6: truncate-with-ellipsis, native expressions (`pyapp.py:116-117`). */
  def snippet(text: Column, maxLen: Int): Column =
    when(length(text) > maxLen, concat(substring(text, 1, maxLen), lit("...")))
      .otherwise(text)

  /** The SQL entry point done right (SURVEY.md §3.3a): the reference
    * string-formats avgdl and the term list into SQL over temp views it
    * never registers (`searchenginespark.py:214-235`). We register the
    * views, escape the literals, and keep k1/b as real parameters.
    */
  def sqlSearch(spark: SparkSession, t: IndexTables, terms: Seq[String],
      k: Int = 10, k1: Double = BM25.DefaultK1, b: Double = BM25.DefaultB): DataFrame = {
    t.termFrequencies.createOrReplaceTempView("term_frequencies")
    t.docLengths.createOrReplaceTempView("document_lengths")
    t.idfValues.createOrReplaceTempView("idf_values")
    val termList = terms.map(s => "'" + s.replace("'", "''") + "'").mkString(", ")
    spark.sql(
      s"""SELECT t.doc_id,
         |       SUM(i.idf * (t.term_freq * (${k1} + 1)) /
         |           (t.term_freq + ${k1} * (1 - ${b} + ${b} * d.doc_length / ${t.avgdl}))) AS score
         |FROM term_frequencies t
         |JOIN document_lengths d ON t.doc_id = d.doc_id
         |JOIN idf_values i ON t.word = i.word
         |WHERE t.word IN ($termList)
         |GROUP BY t.doc_id
         |ORDER BY score DESC, doc_id ASC
         |LIMIT $k""".stripMargin)
  }

  /** Exact-phrase match over positional postings
    * ([[Indexer.positionalPostings]]): phrase term i maps each of its
    * occurrences to anchor = pos − i; an anchor where ALL n distinct
    * offsets land is an exact occurrence of the phrase starting there.
    * ONE broadcast join against the n phrase terms + ONE aggregate,
    * whatever n is — no n-way posting self-join. At 100 TB the
    * broadcast join doubles as the word filter: only postings of the
    * phrase's words survive into the (doc_id, anchor) aggregate, the
    * same slice an IN-filter would read. Repeated phrase words are
    * handled by construction (a posting joins every i it matches).
    * Output: (doc_id, n_matches, first_pos), one row per matching doc.
    */
  def phraseMatch(postings: DataFrame, phrase: String): DataFrame = {
    val spark = postings.sparkSession
    import spark.implicits._
    // raw surface tokens — the positional index keeps stopwords, so the
    // phrase tokenizer must too (NOT Tokenizer.tokenize, which drops them)
    val terms = phrase.toLowerCase.split("[^a-z]+").filter(_.nonEmpty).toSeq
    require(terms.nonEmpty, s"phrase has no alphabetic tokens: '$phrase'")
    val t = terms.zipWithIndex.toDF("word", "i")
    postings.join(broadcast(t), Seq("word"))
      .select(col("doc_id"), (col("pos") - col("i")).as("anchor"), col("i"))
      .groupBy("doc_id", "anchor")
      .agg(countDistinct("i").as("k"))
      .filter(col("k") === terms.length)
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_matches"),
        min("anchor").cast("long").as("first_pos"))
  }

  /** Field-weighted BM25F (simplified Robertson & Zaragoza form): the
    * multi-field extension of [[BM25]] — a hit in the "title" field
    * (the first `titleLen` positions of the token stream; the corpus
    * has no explicit fields, so position defines them) counts
    * `wTitle`/`wBody` times a body hit, each field normalized by its
    * OWN length against its own corpus average:
    *
    *   tf̃(t,d) = Σ_f w_f · tf_f / (1-b + b·len_f/avglen_f)
    *   score(d) = Σ_t idf(t) · tf̃ / (k1 + tf̃)
    *
    * Saturation (k1) is applied ONCE on the combined tf̃ — weighting
    * then saturating is what distinguishes BM25F from naively summing
    * per-field BM25 scores (which over-rewards a term appearing in
    * both fields). idf is document-level (df counts a doc once
    * whichever field matched).
    *
    * Scale: same shape as [[scoreTerms]] — the term filter lands on
    * the postings scan, per-field stats are a (doc, field) aggregate,
    * `avglen` is a 2-row broadcast, idf a ≤|terms|-row broadcast; one
    * shuffle on doc_id for the final sum. Output: top-`k`
    * (doc_id, score), 4dp, ties by doc_id.
    */
  def bm25fSearch(docs: DataFrame, terms: Seq[String], titleLen: Int = 8,
      wTitle: Double = 2.0, wBody: Double = 1.0, k1: Double = BM25.DefaultK1,
      b: Double = BM25.DefaultB, k: Int = 10): DataFrame = {
    val fielded = Indexer.positionalPostings(docs)
      .withColumn("field",
        when(col("pos") < titleLen, "title").otherwise("body"))
      .filter(!col("word").isin(graft.text.Stopwords.alphaOnly: _*))
    val fl = fielded.groupBy("doc_id", "field").agg(count(lit(1)).as("flen"))
    val avgs = fl.groupBy("field").agg(avg("flen").as("avglen"))
    val nDocs = docs.count()
    val hits = fielded.filter(col("word").isin(terms: _*))
    val idf = hits.select("doc_id", "word").distinct()
      .groupBy("word").agg(count(lit(1)).as("df"))
      .withColumn("idf", log10(lit(nDocs.toDouble) / col("df")))
    val tf = hits.groupBy("doc_id", "field", "word").agg(count(lit(1)).as("tf"))
    val wtf = tf
      .join(fl, Seq("doc_id", "field"))
      .join(broadcast(avgs), Seq("field"))
      .withColumn("w", when(col("field") === "title", lit(wTitle)).otherwise(lit(wBody)))
      .withColumn("ntf", col("w") * col("tf") /
        (lit(1 - b) + lit(b) * col("flen") / col("avglen")))
      .groupBy("doc_id", "word").agg(sum("ntf").as("tft"))
    wtf
      .join(broadcast(idf), Seq("word"))
      .withColumn("contrib", col("idf") * col("tft") / (lit(k1) + col("tft")))
      .groupBy("doc_id")
      .agg(round(sum("contrib"), 4).as("score"))
      .orderBy(col("score").desc, col("doc_id").asc)
      .limit(k)
  }
}
