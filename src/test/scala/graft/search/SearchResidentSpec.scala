package graft.search

import java.nio.file.Files
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.ListenerShim

import graft.SparkSpec
import graft.index.{IndexTables, Indexer, ResidentIndex}

/** Resident serving ([[ResidentIndex]]): a loaded index answers all three
  * search entry points on the driver — zero Spark jobs for a top-10 — with
  * the rows, order and schema of the Spark plans over the same corpus;
  * a copy with a swapped table and a load past the fit test keep the
  * Spark plans.
  */
class SearchResidentSpec extends SparkSpec {

  private val vocab = Seq("merge", "join", "table", "scan", "sort", "hash",
    "index", "filter", "group", "limit", "window", "stream")

  // skewed word draws over varied doc lengths, plus identical docs (exact
  // score ties) and docs sharing only the tie words; doc_id is nullable,
  // as it is when read back from Parquet
  private lazy val corpus = {
    import spark.implicits._
    val rng = new java.util.Random(42)
    val drawn = (1L to 80L).map { i =>
      val n = 3 + rng.nextInt(40)
      (Option(i), Seq.fill(n)(vocab(math.min(rng.nextInt(12), rng.nextInt(12)))).mkString(" "))
    }
    val ties = Seq(90L, 91L, 92L).map(i => (Option(i), "tiebreak merge tiebreak sort"))
    (drawn ++ ties :+ ((Option(93L), "tiebreak lone"))).toDF("doc_id", "text")
  }

  private lazy val built = Indexer.build(corpus, stem = false)
  private lazy val builtBounds = Search.termBounds(built)

  private lazy val (loaded, loadedBounds) = {
    val dir = Files.createTempDirectory("graft-resident").toString
    Indexer.writeArtifacts(spark, built, dir)
    builtBounds.write.parquet(s"$dir/bounds.parquet")
    (Indexer.loadArtifacts(spark, dir), spark.read.parquet(s"$dir/bounds.parquet"))
  }

  // ---- job counting: every job started under a job group, by group

  private val jobs = new ConcurrentHashMap[String, AtomicInteger]()
  private val groups = new AtomicLong(0)
  private lazy val listener = {
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
          .foreach(g => jobs.computeIfAbsent(g, _ => new AtomicInteger()).incrementAndGet())
    }
    spark.sparkContext.addSparkListener(l)
    l
  }

  /** `body`'s result and the Spark jobs it started on this thread. */
  private def counted[T](body: => T): (T, Int) = {
    listener
    val g = s"resident-${groups.incrementAndGet()}"
    spark.sparkContext.setJobGroup(g, g)
    try {
      val out = body
      ListenerShim.drain(spark.sparkContext)
      (out, Option(jobs.get(g)).fold(0)(_.get))
    } finally spark.sparkContext.clearJobGroup()
  }

  override def afterAll(): Unit = {
    spark.sparkContext.removeSparkListener(listener)
    super.afterAll()
  }

  // ---- the three entry points, top-k, and the full scored sets

  private sealed trait Mode
  private case object Or extends Mode
  private case object And extends Mode
  private case object Pruned extends Mode
  private val modes = Seq(Or, And, Pruned)

  private def topK(t: IndexTables, bounds: DataFrame, mode: Mode, terms: Seq[String],
      k: Int, k1: Double = BM25.DefaultK1): DataFrame = mode match {
    case Or => Search.scoreTerms(t, terms, k1).limit(k)
    case And => Search.scoreTermsConjunctive(t, terms, k1).limit(k)
    case Pruned => Search.prunedTopK(t, bounds, terms, k, k1)
  }

  private def rows(df: DataFrame): Seq[(Long, Double)] =
    df.collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq

  private def allScores(t: IndexTables, mode: Mode, terms: Seq[String],
      k1: Double = BM25.DefaultK1): Map[Long, Double] =
    rows(if (mode == And) Search.scoreTermsConjunctive(t, terms, k1)
      else Search.scoreTerms(t, terms, k1)).toMap

  /** `got` ranks as `want`: rank by rank scores within 1e-9 (pruned:
    * identical), each served doc's own exact score agreeing (so only
    * near-ties may swap), and `got` strictly in (score desc, doc_id asc).
    */
  private def assertRanks(got: Seq[(Long, Double)], want: Seq[(Long, Double)],
      exact: Map[Long, Double], mode: Mode, what: String): Unit = {
    assert(got.size == want.size, s"$what: $got vs $want")
    if (mode == Pruned) assert(got == want, what)
    got.zip(want).foreach { case ((d, s), (_, ws)) =>
      assert(math.abs(s - ws) <= 1e-9, s"$what: $got vs $want")
      val e = exact(d)
      assert(math.abs((if (mode == Pruned) math.round(e * 1e4) / 1e4 else e) - s) <= 1e-9, what)
    }
    got.sliding(2).foreach {
      case Seq((d1, s1), (d2, s2)) => assert(s1 > s2 || (s1 == s2 && d1 < d2), s"$what: $got")
      case _ => ()
    }
  }

  private val unknown = Set("nosuchterm", "neither")
  private val queries = Seq(
    Seq("merge"),
    Seq("merge", "join"),
    Seq("scan", "sort", "hash"),
    Seq("window", "stream", "merge", "table"),
    Seq("join", "join", "sort"), // duplicate terms
    Seq("merge", "nosuchterm"), // AND with a missing term: empty
    Seq("nosuchterm", "neither"), // unknown terms only: empty in every mode
    Seq("tiebreak"), // exact ties, broken by doc_id
    Seq("tiebreak", "lone"))

  test("a load that fits is resident, and nDocs comes from its doc array") {
    val r = loaded.resident.getOrElse(fail("loaded index has no resident postings"))
    assert(r.servesFor(loaded))
    assert(loaded.nDocs == built.nDocs)
    assert(r.nDocs == built.nDocs)
    assert(r.nPostings == built.termFrequencies.count())
    assert(r.termId("merge") >= 0 && r.termId("nosuchterm") == -1)
    // a built index keeps the Spark plans
    assert(built.resident.isEmpty)
  }

  test("resident top-k runs no Spark job and matches the built index's Spark plans") {
    val sparkLoaded = loaded.copy(resident = None)
    for (terms <- queries; mode <- modes; exact = allScores(built, mode, terms);
         k <- Seq(10, 1000)) {
      val what = s"$mode $terms k=$k"
      val (res, nJobs) = counted {
        val df = topK(loaded, loadedBounds, mode, terms, k)
        (df.schema, rows(df))
      }
      assert(nJobs == 0, what)
      val want = topK(built, builtBounds, mode, terms, k)
      assert(res._1 == want.schema, s"$what: ${res._1} vs ${want.schema}")
      assert(res._1 == topK(sparkLoaded, loadedBounds, mode, terms, k).schema, what)
      assertRanks(res._2, rows(want), exact, mode, what)
      if (terms.forall(unknown) || (mode == And && terms.exists(unknown)))
        assert(res._2.isEmpty, what)
    }
  }

  test("the job counter sees the Spark plans' jobs") {
    val (_, nJobs) = counted(rows(topK(built, builtBounds, Or, Seq("merge"), 10)))
    assert(nJobs > 0)
  }

  test("exact ties are broken by doc_id on the resident path") {
    val (got, nJobs) = counted(rows(Search.scoreTerms(loaded, Seq("tiebreak")).limit(10)))
    assert(nJobs == 0)
    assert(got.map(_._1).filter(_ != 93L) == Seq(90L, 91L, 92L))
    assert(got.filter(_._1 != 93L).map(_._2).distinct.size == 1)
    assert(got == rows(Search.scoreTerms(built, Seq("tiebreak")).limit(10)))
  }

  test("four threads query one resident index concurrently") {
    val work = for (terms <- queries; mode <- modes) yield (mode, terms)
    val want = work.map { case (mode, terms) =>
      rows(topK(loaded.copy(resident = None), loadedBounds, mode, terms, 10))
    }
    val exact = work.map { case (mode, terms) => allScores(built, mode, terms) }
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    try {
      val futures = (0 until 4).map { _ =>
        pool.submit(new java.util.concurrent.Callable[(Seq[Seq[(Long, Double)]], Int)] {
          override def call() = counted {
            (0 until 5).flatMap(_ => work.map { case (mode, terms) =>
              rows(topK(loaded, loadedBounds, mode, terms, 10))
            })
          }
        })
      }
      futures.foreach { f =>
        val (got, nJobs) = f.get()
        assert(nJobs == 0)
        got.grouped(work.size).foreach { rep =>
          rep.indices.foreach { i =>
            val (mode, terms) = work(i)
            assertRanks(rep(i), want(i), exact(i), mode, s"$mode $terms")
          }
        }
      }
    } finally pool.shutdown()
  }

  test("a copy with a swapped IDF scores on the Spark plans, never the stale resident IDF") {
    // the bm25_okapi_variant pattern: rank_bm25's ln-smoothed IDF, k1 = 1.5
    val raw = loaded.idfValues.withColumn("raw",
      log((lit(loaded.nDocs.toDouble) - col("doc_freq") + 0.5) / (col("doc_freq") + 0.5)))
    val avgIdf = raw.agg(avg("raw")).head().getDouble(0)
    val okapiIdf = raw.select(col("word"),
      when(col("raw") < 0, lit(0.25 * avgIdf)).otherwise(col("raw")).as("idf"))
    val okapi = loaded.copy(idfValues = okapiIdf)
    assert(!okapi.resident.get.servesFor(okapi))
    val terms = Seq("merge", "join", "window")
    val (got, nJobs) = counted(rows(Search.scoreTerms(okapi, terms, k1 = 1.5).limit(10)))
    assert(nJobs > 0, "a swapped table must fall back to the Spark plans")
    val want = rows(Search.scoreTerms(okapi.copy(resident = None), terms, k1 = 1.5).limit(10))
    assertRanks(got, want, allScores(okapi.copy(resident = None), Or, terms, k1 = 1.5), Or,
      "okapi")
    val stale = rows(Search.scoreTerms(loaded, terms, k1 = 1.5).limit(10))
    assert(got.map(_._2) != stale.map(_._2), "scored with the stale resident IDF")

    // a swapped avgdl falls back too
    val moved = loaded.copy(avgdl = loaded.avgdl * 2)
    val (m, mJobs) = counted(rows(Search.scoreTerms(moved, terms).limit(10)))
    assert(mJobs > 0)
    assert(m == rows(Search.scoreTerms(moved.copy(resident = None), terms).limit(10)))
  }

  test("the fit test sends an over-budget posting count to the Spark plans") {
    val heap = 1L << 30
    val budget = (heap * ResidentIndex.HeapShare / ResidentIndex.LoadBytesPerPosting).toLong
    assert(ResidentIndex.fits(budget, heap))
    assert(!ResidentIndex.fits(budget + 1, heap))
    assert(!ResidentIndex.fits(Long.MaxValue / 2, heap))
    assert(ResidentIndex.fits(0L, heap))
  }
}
