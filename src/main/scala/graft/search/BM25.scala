package graft.search

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions.lit

/** BM25 scoring as pure Column arithmetic — the native replacement for the
  * reference's `calculate_bm25_udf` Python UDF (`pyapp.py:64-70`). No UDF:
  * the expression stays inside WholeStageCodegen (SURVEY.md §4 — removing
  * the BatchEvalPython boundary is the single biggest win of the Scala
  * port).
  *
  * Canonical constants match the reference's Spark path: k1 = 1.2,
  * b = 0.75 (`pyapp.py:65`, `searchenginespark.py:225-226`); the IDF it
  * consumes is log10(N/df) (`searchenginespark.py:166`). The rank_bm25
  * variant the reference also ships (k1 = 1.5, ln-smoothed IDF — SURVEY.md
  * §3.3b) is expressible by passing different k1/idf inputs.
  */
object BM25 {
  val DefaultK1 = 1.2
  val DefaultB = 0.75

  /** Per-(term, doc) partial score:
    * idf * tf * (k1 + 1) / (tf + k1 * (1 - b + b * dl / avgdl))
    */
  def score(
      tf: Column,
      docLength: Column,
      idf: Column,
      avgdl: Column,
      k1: Double = DefaultK1,
      b: Double = DefaultB): Column =
    idf * (tf * lit(k1 + 1.0)) /
      (tf + lit(k1) * (lit(1.0 - b) + lit(b) * docLength / avgdl))

  /** [[score]] over one posting's values, in the same operation order and
    * with the same long-to-double widening, so a driver-side scorer gets
    * the Spark plan's partials bit for bit.
    */
  def partial(tf: Double, docLength: Double, idf: Double, avgdl: Double,
      k1: Double, b: Double): Double =
    idf * (tf * (k1 + 1.0)) / (tf + k1 * ((1.0 - b) + b * docLength / avgdl))
}
