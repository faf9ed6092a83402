package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}

import scala.collection.mutable

import org.apache.spark.sql.perfbench.SparkShim
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.index.Indexer
import graft.sources.CorpusSource
import graft.text.Tokenizer

import Main.{Metrics, Outcome, Served, median}

/** Per-layer metrics of a traced run: medians of the spans the benchmark
  * recorded around each engine call, the Spark work charged to those spans,
  * a few layer-only measurements made after the measured window, and the
  * tracing overhead. Also writes every span to a JSONL file.
  */
object PerLayer {

  def apply(spark: SparkSession, c: Main.Conf, tr: Tracer, obs: SparkObserver,
      corpus: Gen.Corpus, oracle: Oracle, reps: Seq[Served], builds: Seq[(Served, Boolean)],
      outcomes: Seq[Outcome], sessionS: Double,
      qdir: Path): Metrics = {
    val m = new Metrics

    // ---- single-layer measurements, after the window
    tr.on = true
    val raw = tr.span("sources.read_jsonl", "layers") { CorpusSource.readJsonl(spark, corpus.jsonl.toString) }
    val docs = CorpusSource.concatOpinions(raw).withColumnRenamed("full_text", "text")
    tr.span("sources.ingest", "layers") { docs.write.format("noop").mode("overwrite").save() }
    val cases = raw.count()
    val opinions = CorpusSource.explodeOpinions(raw).count()
    tr.span("text.flat_words", "layers") {
      Indexer.flatWords(docs).write.format("noop").mode("overwrite").save()
    }
    val divergent = divergentTokens(docs)
    val served = reps.last
    val tfRows = served.t.termFrequencies.count()
    val vocab = served.t.idfValues.count()
    tr.on = false
    SparkShim.drainListeners(spark.sparkContext)

    val spans = tr.spans
    val byId = spans.map(s => s.id -> s).toMap
    val kids = spans.groupBy(_.parent)
    val spark0 = obs.bySpan
    val scans = obs.scansBySpan
    def layerSpan(name: String): Double = spans.filter(s => s.req == "layers" && s.name == name).map(_.ms).sum / 1e3

    // ---- traced builds: serve workloads trace their last set-up build,
    // index_build every other build of the window
    val tracedReqs: Set[String] =
      if (c.workload == "index_build") builds.zipWithIndex.collect { case ((_, true), i) => s"build$i" }.toSet
      else Set(s"setup${reps.size - 1}")
    def buildPhase(name: String): Double = {
      val xs = tracedReqs.toSeq.map(r => spans.filter(s => s.req == r && s.name == name).map(_.ms).sum / 1e3)
      if (xs.isEmpty) 0.0 else median(xs)
    }
    def sparkOf(pred: Span => Boolean): SparkCounts = {
      val acc = new SparkCounts
      spans.filter(pred).foreach(s => spark0.get(s.id).foreach(acc.add))
      acc
    }
    val buildShuffle = tracedReqs.toSeq.map(r =>
      sparkOf(s => s.req == r && (s.name == "index.build" || s.name == "index.write")).shuffleWriteBytes.toDouble)
    val tracedBuild = if (c.workload == "index_build") builds.filter(_._2).map(_._1) else Seq(served)

    m.put("session.start_s", sessionS, "s")
    m.put("sources.ingest_s", layerSpan("sources.ingest"), "s", "read_jsonl + concat_opinions to a noop sink")
    m.put("sources.cases", cases.toDouble, "count")
    m.put("sources.opinions", opinions.toDouble, "count")
    m.put("sources.input_bytes", corpus.bytes.toDouble, "bytes")
    val flatS = layerSpan("text.flat_words")
    m.put("text.flat_words_s", flatS, "s", "Indexer.flatWords to a noop sink")
    m.put("text.tokens_per_s", oracle.tokens / flatS, "1/s", s"${oracle.tokens} tokens / flat_words_s")

    // ---- requests
    val reqIds = spans.filter(_.name == "request").map(_.req).toSet
    val byReq = spans.filter(s => reqIds(s.req)).groupBy(_.req)
    val modeOf = outcomes.map(o => o.req -> o.q.mode).toMap
    val nResults = outcomes.filter(o => reqIds(o.req)).map(_.rows.map(_.size).getOrElse(0)).sum
    def per(name: String): Seq[Double] = spans.filter(s => s.name == name && reqIds(s.req)).map(_.ms)
    def medOr0(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else median(xs)
    def modeMs(mode: String): Seq[Double] = byReq.toSeq.collect {
      case (r, ss) if modeOf.get(r).contains(mode) =>
        ss.filter(s => s.name == s"search.$mode.call" || s.name == s"search.$mode.collect").map(_.ms).sum
    }
    m.put("text.query_tokenize_us", medOr0(per("text.tokenize")) * 1e3, "us", s"n=${per("text.tokenize").size}")
    m.put("text.tokenizer_divergent_tokens", divergent.toDouble, "count",
      "corpus tokens on which Indexer.flatWords and Tokenizer.tokenize disagree")

    m.put("index.cold_build_s", reps.head.buildS, "s", "the set-up build in a fresh JVM, untraced")
    m.put("index.build_s", buildPhase("index.build"), "s")
    m.put("index.write_s", buildPhase("index.write"), "s")
    m.put("index.load_s", buildPhase("index.load"), "s")
    m.put("index.shuffle_bytes", medOr0(buildShuffle), "bytes", "shuffle write of index.build + index.write")
    for (a <- Main.Artifacts)
      m.put(s"index.bytes.$a", medOr0(tracedBuild.map(_.artifactBytes(a).toDouble)), "bytes")
    m.put("index.rows.term_frequencies", tfRows.toDouble, "count")
    m.put("index.vocab", vocab.toDouble, "count")

    m.put("search.term_bounds_s", buildPhase("search.term_bounds"), "s")
    val orMs = modeMs(Gen.OR); val andMs = modeMs(Gen.AND); val prMs = modeMs(Gen.PRUNED)
    m.put("search.or_ms", medOr0(orMs), "ms", s"n=${orMs.size}, top-10 call + collect")
    m.put("search.and_ms", medOr0(andMs), "ms", s"n=${andMs.size}")
    m.put("search.pruned_ms", medOr0(prMs), "ms", s"n=${prMs.size}")
    m.put("search.pruned_over_or", if (orMs.isEmpty || prMs.isEmpty) 0.0 else median(prMs) / median(orMs),
      "ratio", "median pruned_ms / median or_ms")
    val planMs = per(s"search.${Gen.OR}.call") ++ per(s"search.${Gen.AND}.call")
    m.put("search.plan_ms", medOr0(planMs), "ms", s"n=${planMs.size}, OR/AND call returning its DataFrame")
    m.put("search.snippet_ms", medOr0(per("search.snippet")), "ms", s"n=${per("search.snippet").size}")

    // scans charged to request spans, per query
    val nq = math.max(1, reqIds.size).toDouble
    val reqScans = scans.toSeq.flatMap { case (sid, ss) =>
      byId.get(sid).filter(s => reqIds(s.req)).toSeq.flatMap(_ => ss) }
    def scanSum(a: String, f: ScanCounts => Long) = reqScans.filter(_.artifact == a).map(f).sum.toDouble
    val tfScanRows = scanSum("term_frequencies", _.rows)
    m.put("search.tf_rows_scanned_per_query", tfScanRows / nq, "count", s"n=${reqIds.size} queries")
    m.put("search.tf_bytes_scanned_per_query", scanSum("term_frequencies", _.fileBytes) / nq, "bytes",
      "size of the term_frequencies files the scans opened")
    m.put("search.text_bytes_scanned_per_query", scanSum("opinion_text", _.fileBytes) / nq, "bytes")
    m.put("search.rows_scanned_per_result", if (nResults == 0) 0.0 else tfScanRows / nResults, "ratio",
      s"term_frequencies rows scanned / $nResults results served")

    val rq = sparkOf(s => reqIds(s.req))
    m.put("spark.jobs_per_query", rq.jobs / nq, "count")
    m.put("spark.tasks_per_query", rq.tasks / nq, "count")
    m.put("spark.scheduler_delay_ms_per_query", rq.schedulerDelayMs / nq, "ms", "task launch - stage submission")
    m.put("spark.executor_cpu_ms_per_query", rq.cpuNs / 1e6 / nq, "ms")
    m.put("spark.shuffle_write_bytes_per_query", rq.shuffleWriteBytes / nq, "bytes")
    m.put("spark.input_bytes_per_query", rq.inputBytes / nq, "bytes")
    m.put("spark.gc_ms_per_query", rq.gcMs / nq, "ms")

    // self time: a span's duration minus what its children cover
    def selfMs(s: Span): Double = {
      val iv = kids.getOrElse(s.id, Nil).map(k => (k.startNs, k.endNs)).sortBy(_._1)
      var covered = 0L; var end = Long.MinValue
      for ((a, b) <- iv) {
        val a1 = math.max(a, end)
        if (b > a1) { covered += b - a1; end = b }
      }
      s.ms - covered / 1e6
    }
    def layer(s: Span): String = s.name.takeWhile(_ != '.')
    val selfByLayer = spans.filter(s => reqIds(s.req)).groupBy(layer).map { case (l, ss) => l -> ss.map(selfMs).sum }
    for (l <- Seq("text", "search", "request"))
      m.put(s"self.$l.ms_per_query", selfByLayer.getOrElse(l, 0.0) / nq, "ms")

    // ---- tracing overhead: traced against untraced requests of the same
    // window; in a closed loop qps is inversely proportional to latency
    def meanS(os: Seq[Outcome]) = os.map(_.latencyNs / 1e9).sum / math.max(1, os.size)
    val ok = outcomes.filter(_.rows.nonEmpty)
    val (lt, lu) = (meanS(ok.filter(_.traced)), meanS(ok.filterNot(_.traced)))
    m.put("trace.qps_overhead_pct", (1 - lu / lt) * 100, "%",
      f"mean latency untraced ${lu * 1e3}%.1f ms vs traced ${lt * 1e3}%.1f ms")
    val (bu, bt) =
      if (c.workload == "index_build") (median(builds.filterNot(_._2).map(_._1.buildS)),
        if (builds.exists(_._2)) median(builds.filter(_._2).map(_._1.buildS)) else Double.NaN)
      else (reps(reps.size - 2).buildS, reps.last.buildS)
    m.put("trace.index_build_overhead_pct", (bt - bu) / bu * 100, "%", f"untraced $bu%.3f s vs traced $bt%.3f s")

    writeSpans(qdir.getParent.resolve(s"spans-${c.workload}-${c.seed}.jsonl"), spans, spark0, selfMs)
    m
  }

  /** Σ over documents and words of |count under Indexer.flatWords −
    * count under Tokenizer.tokenize|: the tokens the index and the query
    * path disagree on (contractions and internal apostrophes).
    */
  def divergentTokens(docs: org.apache.spark.sql.DataFrame): Long = {
    val flat = Indexer.flatWords(docs).groupBy("doc_id").agg(collect_list("word").as("words"))
    val it = docs.join(flat, Seq("doc_id"), "left").select("text", "words").toLocalIterator()
    var diff = 0L
    while (it.hasNext) {
      val r = it.next()
      val a = mutable.HashMap.empty[String, Int]
      if (!r.isNullAt(1)) r.getList[String](1).forEach(w => a(w) = a.getOrElse(w, 0) + 1)
      val b = mutable.HashMap.empty[String, Int]
      Tokenizer.tokenize(r.getString(0)).foreach(w => b(w) = b.getOrElse(w, 0) + 1)
      diff += (a.keySet ++ b.keySet).toSeq.map(w => math.abs(a.getOrElse(w, 0) - b.getOrElse(w, 0)).toLong).sum
    }
    diff
  }

  def writeSpans(file: Path, spans: Seq[Span], counts: collection.Map[Long, SparkCounts],
      selfMs: Span => Double): Unit = {
    val t0 = if (spans.isEmpty) 0L else spans.map(_.startNs).min
    val lines = spans.sortBy(_.startNs).map { s =>
      val c = counts.getOrElse(s.id, new SparkCounts)
      s"""{"id": ${s.id}, "parent": ${s.parent}, "req": ${Json.str(s.req)}, "name": ${Json.str(s.name)}, """ +
        s""""start_ms": ${(s.startNs - t0) / 1e6}, "dur_ms": ${s.ms}, "self_ms": ${selfMs(s)}, """ +
        s""""jobs": ${c.jobs}, "tasks": ${c.tasks}, "cpu_ms": ${c.cpuNs / 1e6}, "gc_ms": ${c.gcMs}, """ +
        s""""shuffle_write_bytes": ${c.shuffleWriteBytes}, "input_bytes": ${c.inputBytes}, """ +
        s""""scheduler_delay_ms": ${c.schedulerDelayMs}}"""
    }
    Files.write(file, lines.mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
    println(s"spans: ${spans.size} written to $file")
  }
}
