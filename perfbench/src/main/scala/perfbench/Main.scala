package perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicInteger

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.GraftSession
import graft.index.{IndexTables, Indexer}
import graft.search.Search
import graft.sources.CorpusSource
import graft.text.Tokenizer

import Gen.Query

/** The search-engine benchmark. One JVM runs one workload:
  *
  *   --workload serve_head|serve_tail|index_build --seed N --seconds S
  *   --trace 0|1 --data DIR --out DIR
  *
  * It drives the engine only through its public calls, checks every served
  * request against [[Oracle]], and prints a human-readable report followed
  * by one JSON line: {"correct", "attempted", "failed", "metrics"}.
  */
object Main {

  final case class Conf(workload: String, seed: Long, seconds: Double, trace: Boolean,
      data: Path, out: Path)

  /** A workload: corpus size and closed-loop clients. */
  final case class Spec(cases: Int, clients: Int)

  val Cores: Int = math.min(4, Runtime.getRuntime.availableProcessors)

  val Specs: Map[String, Spec] = Map(
    "serve_head" -> Spec(cases = 300, clients = Cores),
    "serve_tail" -> Spec(cases = 300, clients = 1),
    "index_build" -> Spec(cases = 2000, clients = 1))

  val K = 10
  val TimeoutNs = 30e9

  // ------------------------------------------------------------ plumbing

  private def now(): Long = System.nanoTime()
  private def secs(t0: Long, t1: Long): Double = (t1 - t0) / 1e9

  /** CPU time stolen by the hypervisor and total CPU time, in ticks, from
    * /proc/stat (zeros where it does not exist): a noisy neighbour shows
    * as steal.
    */
  def cpuTicks(): (Long, Long) =
    try {
      val f = scala.io.Source.fromFile("/proc/stat")
      val xs = try f.getLines().next().split("\\s+").drop(1).map(_.toLong) finally f.close()
      (if (xs.length > 7) xs(7) else 0L, xs.sum)
    } catch { case _: Exception => (0L, 0L) }

  /** Used heap after full collections. Spark's ContextCleaner frees
    * broadcast and shuffle blocks asynchronously once their references
    * are collected, so collect, give it a moment, and collect again.
    */
  def usedHeapMb(): Double = {
    val mx = ManagementFactory.getMemoryMXBean
    for (_ <- 0 until 3) { System.gc(); Thread.sleep(100) }
    System.gc()
    mx.getHeapMemoryUsage.getUsed / 1048576.0
  }

  def dirBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else Files.walk(p).iterator().asScala.filter(Files.isRegularFile(_))
      .filterNot(_.getFileName.toString.startsWith(".")).map(Files.size).sum

  // ------------------------------------------------------------ pipeline

  /** A loaded index ready to serve, and what building it took. */
  final case class Served(t: IndexTables, bounds: DataFrame, text: DataFrame,
      buildS: Double, artifactBytes: Map[String, Long])

  val Artifacts = Seq("flat_words", "term_frequencies", "doc_lengths", "idf_values",
    "inverted_index", "scoring_params", "opinion_text", "bounds")

  /** JSONL on disk → every artifact written → loaded, through the engine's
    * own calls, under spans named after the layer each call belongs to.
    */
  def pipeline(spark: SparkSession, tr: Tracer, jsonl: Path, dir: Path, req: String): Served = {
    Gen.deleteTree(dir)
    val t0 = now()
    val (loaded, bounds, text) = tr.span("pipeline", req) {
      val corpus = tr.span("sources.read_jsonl") { CorpusSource.readJsonl(spark, jsonl.toString) }
      val docs = tr.span("sources.concat_opinions") {
        CorpusSource.concatOpinions(corpus).withColumnRenamed("full_text", "text")
      }
      val firstText = tr.span("sources.first_opinion_text") { CorpusSource.firstOpinionText(corpus) }
      val built = tr.span("index.build") { Indexer.build(docs) }
      tr.span("index.write") { Indexer.writeArtifacts(spark, built, dir.toString, Some(firstText)) }
      tr.span("search.term_bounds") {
        Search.termBounds(built).write.parquet(dir.resolve("bounds.parquet").toString)
      }
      val out = tr.span("index.load") {
        (Indexer.loadArtifacts(spark, dir.toString),
          spark.read.parquet(dir.resolve("bounds.parquet").toString),
          spark.read.parquet(dir.resolve("opinion_text.parquet").toString))
      }
      built.flatWords.unpersist(blocking = true)
      out
    }
    val buildS = secs(t0, now())
    Served(loaded, bounds, text, buildS,
      Artifacts.map(a => a -> dirBytes(dir.resolve(s"$a.parquet"))).toMap)
  }

  // ------------------------------------------------------------- serving

  type Rows = Seq[(Long, Double, String)]

  /** One request as the reference app serves it: tokenize, top-10 in the
    * query's mode, then a 160-character snippet of each hit from
    * opinion_text, in the engine's ranked order.
    */
  def request(s: Served, tr: Tracer, q: Query, req: String): Rows = tr.span("request", req) {
    val terms = tr.span("text.tokenize") { Tokenizer.tokenize(q.text).distinct }
    val top = tr.span(s"search.${q.mode}.call") {
      q.mode match {
        case Gen.OR => Search.scoreTerms(s.t, terms).limit(K)
        case Gen.AND => Search.scoreTermsConjunctive(s.t, terms).limit(K)
        case Gen.PRUNED => Search.prunedTopK(s.t, s.bounds, terms, K)
      }
    }
    val ranked = tr.span(s"search.${q.mode}.collect") {
      top.collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    }
    val snippets = tr.span("search.snippet") {
      if (ranked.isEmpty) Map.empty[Long, String]
      else s.text.filter(col("doc_id").isin(ranked.map(_._1): _*))
        .select(col("doc_id"), Search.snippet(col("opinion_text"), Gen.SnippetLen))
        .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    }
    ranked.map { case (d, sc) => (d, sc, snippets.getOrElse(d, null)) }
  }

  /** One served request's outcome. `rows` is None when the call failed. */
  final case class Outcome(q: Query, req: String, startNs: Long, latencyNs: Long,
      rows: Option[Rows], error: String, traced: Boolean)

  /** Closed loop: `clients` threads each send the next query of `qs` as
    * soon as their previous one returns, until `seconds` have passed.
    * While tracing is on, every other request runs untraced, the
    * reference for the tracing overhead. Returns the outcomes and the
    * window's length in seconds.
    */
  def closedLoop(s: Served, tr: Tracer, qs: IndexedSeq[Query], clients: Int, seconds: Double,
      prefix: String): (Seq[Outcome], Double) = {
    val next = new AtomicInteger(0)
    val outs = new ConcurrentLinkedQueue[Outcome]()
    val t0 = now()
    val deadline = if (seconds.isInfinite) Long.MaxValue else t0 + (seconds * 1e9).toLong
    @volatile var last = t0
    val threads = (0 until clients).map { _ =>
      new Thread(() => {
        var i = if (now() < deadline) next.getAndIncrement() else qs.size
        while (i < qs.size) {
          val q = qs(i)
          val req = s"$prefix$i"
          tr.mute(i % 2 == 0)
          val traced = tr.active
          val a = now()
          val (rows, err) =
            try (Some(request(s, tr, q, req)), "")
            catch { case e: Throwable => (None, e.toString) }
          val b = now()
          val timedOut = b - a > TimeoutNs
          outs.add(Outcome(q, req, a - t0, b - a, if (timedOut) None else rows,
            if (timedOut) "timeout" else err, traced))
          synchronized { if (b > last) last = b }
          i = if (now() < deadline) next.getAndIncrement() else qs.size
        }
      })
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
    (outs.asScala.toSeq, secs(t0, last))
  }

  // ------------------------------------------------------------- metrics

  def median(xs: Seq[Double]): Double = percentile(xs, 50)

  /** Linearly interpolated percentile (numpy's default); +inf entries
    * stand for failed requests.
    */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    val s = xs.sorted
    val h = (s.size - 1) * p / 100.0
    val lo = math.floor(h).toInt
    val hi = math.min(lo + 1, s.size - 1)
    if (s(hi).isInfinite) s(hi) else s(lo) + (h - lo) * (s(hi) - s(lo))
  }

  /** The latency percentiles of a set of requests, failures counted as
    * missing every limit.
    */
  def latencyMs(os: Seq[Outcome], p: Double): Double =
    percentile(os.map(o => if (o.rows.isEmpty) Double.PositiveInfinity else o.latencyNs / 1e6), p)

  final class Metrics {
    val values = mutable.LinkedHashMap.empty[String, (Double, String, String)]
    def put(name: String, v: Double, unit: String, note: String = ""): Unit =
      values(name) = (v, unit, note)
  }

  // ---------------------------------------------------------------- main

  def parse(args: Array[String]): Conf = {
    val m = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val w = need("workload")
    require(Specs.contains(w), s"unknown workload $w (known: ${Specs.keys.toSeq.sorted.mkString(", ")})")
    Conf(w, need("seed").toLong, need("seconds").toDouble, need("trace") == "1",
      Paths.get(need("data")), Paths.get(need("out")))
  }

  def main(args: Array[String]): Unit = {
    val code =
      try run(parse(args))
      catch { case e: Throwable => e.printStackTrace(); 2 }
    System.out.flush()
    // Spark leaves non-daemon threads behind; end the JVM explicitly
    Runtime.getRuntime.halt(code)
  }

  def run(c: Conf): Int = {
    Oracle.selfCheck()
    val spec = Specs(c.workload)
    Files.createDirectories(c.data)
    Files.createDirectories(c.out)

    // ---- inputs, written before the session starts and outside every timing
    val tInputs = now()
    val corpus = Gen.corpus(c.data, c.seed, spec.cases)
    val pool = Gen.headPool(c.seed)
    val (measured, warm) = c.workload match {
      case "serve_head" =>
        (Gen.headDraws(c.seed, 10, pool, 20000), Gen.headDraws(c.seed, 11, pool, 16))
      case "serve_tail" =>
        val m = Gen.tailStream(c.seed, 20, 2000)
        (m, Gen.tailStream(c.seed, 21, 6, m.map(_.text.toLowerCase).toSet))
      case _ =>
        // a few oracle-checked queries of each mode after every build
        (Seq(Gen.OR, Gen.AND, Gen.PRUNED).flatMap(pool(_).take(2)).toIndexedSeq, IndexedSeq.empty)
    }
    val qdir = c.out.resolve(s"queries-${c.workload}-${c.seed}")
    Files.createDirectories(qdir)
    if (c.workload == "serve_head") Gen.writeQueries(qdir.resolve("pool.tsv"), pool.values.flatten.toSeq.sortBy(_.id))
    Gen.writeQueries(qdir.resolve("measured.tsv"), measured.take(5000))
    Gen.writeVocab(qdir.resolve("vocab.tsv"), c.seed)
    Gen.writeQueries(qdir.resolve("warmup.tsv"), warm)

    // ---- set-up
    val inputsS = secs(tInputs, now())
    val tSession = now()
    val spark = GraftSession.local(Cores)
    val sessionS = secs(tSession, now())
    val tr = new Tracer(spark.sparkContext)
    tr.record("session.start", "setup", tSession, tSession + (sessionS * 1e9).toLong)
    val obs = if (c.trace) Some(SparkObserver.install(spark)) else None
    val heap0 = usedHeapMb()
    val work = c.out.resolve(s"work-${c.workload}")
    Gen.deleteTree(work)

    val reps = mutable.ArrayBuffer.empty[Served]
    // a traced run builds three times: cold, warm untraced (the reference
    // for the tracing overhead), warm traced; it serves the traced one
    for (r <- 0 until (if (c.trace) 3 else 1)) {
      tr.on = r == 2
      reps += pipeline(spark, tr, corpus.jsonl, work.resolve(s"rep$r"), s"setup$r")
      if (r > 0) Gen.deleteTree(work.resolve(s"rep${r - 1}"))
    }
    tr.on = false
    val served = reps.last
    val tWarm = now()
    val (warmOut, _) = closedLoop(served, tr, warm, spec.clients, Double.PositiveInfinity, "w")
    val warmS = secs(tWarm, now())
    val setupS = sessionS + reps.head.buildS + warmS
    val heapMb = usedHeapMb()

    // ---- measured window
    val tWindow = now()
    val cpu0 = cpuTicks()
    val outcomes = mutable.ArrayBuffer.empty[Outcome]
    val builds = mutable.ArrayBuffer.empty[(Served, Boolean)]
    var windowS = 0.0
    if (c.workload == "index_build") {
      // repeated builds from the same JSONL, each followed by the check
      // queries against the index it just wrote
      val deadline = now() + (c.seconds * 1e9).toLong
      var r = 0
      val t0 = now()
      while (r == 0 || now() < deadline) {
        tr.on = c.trace && r % 2 == 1
        val s = pipeline(spark, tr, corpus.jsonl, work.resolve(s"build$r"), s"build$r")
        builds += ((s, tr.on))
        val (os, _) = closedLoop(s, tr, measured, 1, Double.PositiveInfinity, s"b${r}q")
        outcomes ++= os
        Gen.deleteTree(work.resolve(s"build${r - 1}"))
        r += 1
      }
      windowS = secs(t0, now())
    } else {
      tr.on = c.trace
      val (os, w) = closedLoop(served, tr, measured, spec.clients, c.seconds, "r")
      tr.on = false
      outcomes ++= os; windowS = w
    }

    val cpu1 = cpuTicks()
    val stealPct = 100.0 * (cpu1._1 - cpu0._1) / math.max(1L, cpu1._2 - cpu0._2)

    // ---- correctness, untimed: every served request against the oracle
    val tOracle = now()
    val jsonlDocs = CorpusSource.concatOpinions(CorpusSource.readJsonl(spark, corpus.jsonl.toString))
      .withColumnRenamed("full_text", "text")
    val oracle = Oracle.fromFlatWords(Indexer.flatWords(jsonlDocs))
    val exact = mutable.HashMap.empty[(Seq[String], Boolean), mutable.LongMap[Double]]
    var mismatches = 0
    val failures = mutable.LinkedHashMap.empty[String, Int]
    val all = warmOut ++ outcomes
    for (o <- all) o.rows match {
      case None =>
        val key = o.error.takeWhile(_ != '\n').take(120)
        failures(key) = failures.getOrElse(key, 0) + 1
      case Some(rows) =>
        val terms = Tokenizer.tokenize(o.q.text).distinct
        val conj = o.q.mode == Gen.AND
        val ex = exact.getOrElseUpdate((terms, conj), oracle.scores(terms, conj))
        val errs = Oracle.check(ex, rows, K, o.q.mode == Gen.PRUNED, corpus.snippets)
        if (errs.nonEmpty) {
          mismatches += 1
          if (mismatches <= 5) System.err.println(s"MISMATCH ${o.req} [${o.q.mode}] '${o.q.text}': ${errs.take(3).mkString("; ")}")
        }
    }
    val oracleS = secs(tOracle, now())
    Files.write(qdir.resolve(s"requests-trace${if (c.trace) 1 else 0}.tsv"),
      ("req\tmode\tstart_ms\tlatency_ms\ttraced\tok\n" + all.map(o =>
        f"${o.req}\t${o.q.mode}\t${o.startNs / 1e6}%.1f\t${o.latencyNs / 1e6}%.1f\t${o.traced}\t${o.rows.nonEmpty}")
        .mkString("", "\n", "\n")).getBytes(StandardCharsets.UTF_8))
    val bad = all.count(_.rows.isEmpty) + mismatches
    val timed = outcomes.toSeq
    val ok = timed.filter(_.rows.nonEmpty)

    // ---- end-to-end metrics
    val m = new Metrics
    val servedForBytes = if (builds.nonEmpty) builds.last._1 else served
    val qpsS = if (c.workload == "index_build") timed.map(_.latencyNs / 1e9).sum else windowS
    m.put("setup_s", setupS, "s", f"session $sessionS%.3f + build ${reps.head.buildS}%.3f + warm-up $warmS%.3f (${warm.size} requests)")
    m.put("qps", ok.size / qpsS, "1/s", f"${ok.size} ok requests / $qpsS%.3f s, ${spec.clients} client(s)")
    // the tail percentile is the highest with about ten samples beyond it
    // at this engine's speed (p95 would have 1 or 2); p90 and p95 are
    // printed in the report only
    m.put("query_p50_ms", latencyMs(timed, 50), "ms", s"n=${timed.size}")
    m.put("query_p75_ms", latencyMs(timed, 75), "ms",
      f"n=${timed.size}, ${timed.size * 0.25}%.1f samples beyond it")
    val upper = Seq(90, 95).map(p =>
      f"  (query_p${p}_ms ${latencyMs(timed, p)}%.1f ms, ${timed.size * (100 - p) / 100.0}%.1f samples beyond it)")
    m.put("index_bytes_per_input_byte", servedForBytes.artifactBytes.values.sum.toDouble / corpus.bytes,
      "ratio", s"${servedForBytes.artifactBytes.values.sum} artifact bytes / ${corpus.bytes} JSONL bytes")
    if (c.workload == "index_build") {
      val bs = builds.filterNot(_._2).map(_._1.buildS).toSeq
      m.put("index_build_s", median(bs), "s", s"median of ${bs.size} builds, JSONL to loaded artifacts")
    }
    m.put("setup_heap_mb", heapMb - heap0, "MB", f"used heap after GC: $heapMb%.1f at end of set-up - $heap0%.1f after session start")

    val metrics =
      if (!c.trace) m
      else PerLayer(spark, c, tr, obs.get, corpus, oracle, reps.toSeq, builds.toSeq,
        outcomes.toSeq, sessionS, qdir)

    // ---- report
    val phases = f"phases (s): inputs $inputsS%.1f, set-up ${secs(tSession, tWindow)}%.1f, " +
      f"window ${secs(tWindow, tOracle)}%.1f, oracle $oracleS%.1f, traced extras ${secs(tOracle, now()) - oracleS}%.1f"
    println(s"workload ${c.workload}  seed ${c.seed}  cases ${spec.cases}  clients ${spec.clients}  trace ${if (c.trace) 1 else 0}")
    println(phases + f"; CPU steal during the window $stealPct%.1f%%")
    println(f"oracle: N=${oracle.nDocs} avgdl=${oracle.avgdl}%.3f vocab=${oracle.vocab} tokens=${oracle.tokens}")
    println(s"requests: ${all.size} attempted (${warmOut.size} warm-up), ${all.count(_.rows.isEmpty)} failed, $mismatches oracle mismatches")
    failures.foreach { case (e, n) => println(s"  failure x$n: $e") }
    for ((k, (v, u, note)) <- metrics.values) println(f"  $k%-42s $v%16.6f $u%-6s $note")
    if (!c.trace) upper.foreach(println)
    val json = metrics.values.map { case (k, (v, u, _)) =>
      s""""$k": {"value": ${Json.num(v)}, "unit": "$u"}""" }.mkString("{", ", ", "}")
    println(s"""{"correct": ${bad == 0}, "attempted": ${all.size}, "failed": $bad, "metrics": $json}""")
    if (bad == 0) 0 else 1
  }
}

object Json {
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.lang.Double.toString(v)
  def str(s: String): String = {
    val sb = new java.lang.StringBuilder(s.length + 2)
    sb.append('"')
    var i = 0
    while (i < s.length) {
      s.charAt(i) match {
        case '"' => sb.append("\\\"")
        case '\\' => sb.append("\\\\")
        case c if c < ' ' => sb.append(f"\\u${c.toInt}%04x")
        case c => sb.append(c)
      }
      i += 1
    }
    sb.append('"').toString
  }
}
