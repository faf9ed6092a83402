package graft.index

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.types.{DataType, DoubleType, LongType, StringType, StructField}

/** A loaded index's postings held on the driver — the serving mode of the
  * reference's deployed app, which reads its Parquet artifacts into memory
  * once and answers every query from them (`pyapp.py:12-18,23-28`).
  * Immutable after [[ResidentIndex.load]]; any number of threads may read
  * it at once.
  *
  * Layout (no per-term or per-posting objects):
  *  - the vocabulary, sorted by `String.compareTo`, packed into ONE string;
  *    term i is `vocab.substring(vocabOff(i), vocabOff(i + 1))`;
  *  - CSR postings: term i owns positions `[postStart(i), postStart(i + 1))`
  *    of `postDoc` (doc ordinals) and `postTf` (term frequencies);
  *  - `idf(i)` per term; `docIds` ascending, `docLen` per doc ordinal — so
  *    ordinal order IS doc_id order.
  *
  * It records the three tables and the avgdl it was built from: it may
  * stand in for an [[IndexTables]] only while that index still holds those
  * exact frames ([[servesFor]]). A copy with a swapped table (a different
  * IDF, say) is scored by the Spark plans instead.
  */
final class ResidentIndex private (
    val termFrequencies: DataFrame,
    val idfValues: DataFrame,
    val docLengths: DataFrame,
    val avgdl: Double,
    vocab: String,
    vocabOff: Array[Int],
    private[graft] val postStart: Array[Int],
    private[graft] val postDoc: Array[Int],
    private[graft] val postTf: Array[Int],
    private[graft] val idf: Array[Double],
    private[graft] val docIds: Array[Long],
    private[graft] val docLen: Array[Int],
    /** The `doc_id` field as the Spark plans over these tables emit it. */
    val docIdField: StructField) {

  def nDocs: Int = docIds.length
  def nTerms: Int = idf.length
  def nPostings: Int = postDoc.length

  /** Whether `t` still holds exactly the frames (by reference) and avgdl
    * this index was built from.
    */
  def servesFor(t: IndexTables): Boolean =
    (termFrequencies eq t.termFrequencies) && (idfValues eq t.idfValues) &&
      (docLengths eq t.docLengths) && avgdl == t.avgdl

  /** Term id of `w`, or -1 when it is not in the vocabulary. */
  def termId(w: String): Int = {
    var lo = 0
    var hi = nTerms - 1
    while (lo <= hi) {
      val mid = (lo + hi) >>> 1
      val c = compareTerm(w, mid)
      if (c == 0) return mid
      if (c < 0) hi = mid - 1 else lo = mid + 1
    }
    -1
  }

  /** `w.compareTo(term i)` without materializing term i. */
  private def compareTerm(w: String, i: Int): Int = {
    val s = vocabOff(i)
    val n = vocabOff(i + 1) - s
    val m = math.min(w.length, n)
    var j = 0
    while (j < m) {
      val c = w.charAt(j) - vocab.charAt(s + j)
      if (c != 0) return c
      j += 1
    }
    w.length - n
  }
}

object ResidentIndex {

  /** Share of the driver's max heap the postings may claim while loading. */
  val HeapShare = 0.25

  /** Driver bytes per `term_frequencies` row during [[load]]: the
    * collected rows (a decoded row, a boxed `Row`, a word string) dominate.
    * Loading a 255k-row index allocated ≈500 B a row on the calling thread
    * in all, a bound on what is live at once; the finished index keeps
    * 8 bytes a posting.
    */
  val LoadBytesPerPosting = 512L

  /** The fit test: whether `postings` rows can be loaded resident under a
    * heap of `maxHeapBytes`. Pure, so the Spark-plan fallback is testable
    * without a knob.
    */
  def fits(postings: Long, maxHeapBytes: Long): Boolean =
    postings <= (maxHeapBytes * HeapShare / LoadBytesPerPosting).toLong

  /** Collects the three scoring tables and builds the resident index, or
    * None when they are not the consistent shape the Spark plans score
    * without nulls — column types other than the artifacts', a null, a
    * duplicate word or doc_id, a posting whose word has no IDF row or whose
    * doc has no length row, a count past `Int` range, or avgdl not > 0.
    * The Spark plans serve those indexes as before.
    */
  def load(termFrequencies: DataFrame, idfValues: DataFrame, docLengths: DataFrame,
      avgdl: Double): Option[ResidentIndex] = {
    def typed(df: DataFrame, cols: (String, DataType)*) =
      cols.forall { case (c, ty) => df.columns.contains(c) && df.schema(c).dataType == ty }
    if (!(avgdl > 0 && !avgdl.isInfinite) ||
        !typed(termFrequencies, "word" -> StringType, "doc_id" -> LongType, "term_freq" -> LongType) ||
        !typed(idfValues, "word" -> StringType, "idf" -> DoubleType) ||
        !typed(docLengths, "doc_id" -> LongType, "doc_length" -> LongType))
      return None

    val dls = docLengths.select("doc_id", "doc_length").collect()
    if (dls.exists(r => r.isNullAt(0) || r.isNullAt(1) || r.getLong(1) > Int.MaxValue)) return None
    val byDoc = dls.map(r => (r.getLong(0), r.getLong(1).toInt)).sortBy(_._1)
    val docIds = byDoc.map(_._1)
    if ((1 until docIds.length).exists(i => docIds(i) == docIds(i - 1))) return None
    val docLen = byDoc.map(_._2)

    val idfs = idfValues.select("word", "idf").collect()
    if (idfs.exists(r => r.isNullAt(0) || r.isNullAt(1))) return None
    val byWord = idfs.map(r => (r.getString(0), r.getDouble(1))).sortBy(_._1)
    val words = byWord.map(_._1)
    if ((1 until words.length).exists(i => words(i) == words(i - 1))) return None
    val ids = new java.util.HashMap[String, Integer](words.length * 2)
    words.indices.foreach(i => ids.put(words(i), i))
    val vocabOff = words.scanLeft(0)(_ + _.length)
    val vocab = words.mkString

    val tfs = termFrequencies.select("word", "doc_id", "term_freq").collect()
    val n = tfs.length
    val tid = new Array[Int](n)
    val ord = new Array[Int](n)
    val tfv = new Array[Int](n)
    val postStart = new Array[Int](words.length + 1)
    var i = 0
    while (i < n) {
      val r = tfs(i)
      if (r.isNullAt(0) || r.isNullAt(1) || r.isNullAt(2)) return None
      val id = ids.get(r.getString(0))
      val d = java.util.Arrays.binarySearch(docIds, r.getLong(1))
      val f = r.getLong(2)
      if (id == null || d < 0 || f < 1 || f > Int.MaxValue) return None
      tid(i) = id.intValue; ord(i) = d; tfv(i) = f.toInt
      postStart(tid(i) + 1) += 1
      i += 1
    }
    var w = 0
    while (w < words.length) { postStart(w + 1) += postStart(w); w += 1 }
    // counting sort by term id: stable, so each term keeps file order
    val fill = java.util.Arrays.copyOf(postStart, words.length)
    val postDoc = new Array[Int](n)
    val postTf = new Array[Int](n)
    i = 0
    while (i < n) {
      val p = fill(tid(i))
      postDoc(p) = ord(i); postTf(p) = tfv(i)
      fill(tid(i)) = p + 1
      i += 1
    }
    Some(new ResidentIndex(termFrequencies, idfValues, docLengths, avgdl, vocab, vocabOff,
      postStart, postDoc, postTf, byWord.map(_._2), docIds, docLen,
      termFrequencies.schema("doc_id")))
  }
}
