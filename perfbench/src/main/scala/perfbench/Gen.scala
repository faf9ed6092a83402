package perfbench

import java.io.{BufferedWriter, OutputStreamWriter}
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import java.util.SplittableRandom

import scala.collection.mutable

/** Seeded generator of CAP-schema case-law JSONL and of the query streams
  * the serve workloads replay. Everything is a pure function of the seed:
  * the same seed gives byte-identical files. The engine only ever sees the
  * files this writes.
  *
  * Text shape: sentence case, commas and periods, numbers, reporter
  * citations, possessives, contractions and words with an internal
  * apostrophe at natural rates, about 45% stopwords, and a Zipf–Mandelbrot
  * content vocabulary of pseudo-words with inflected variants so that
  * stemming folds several surface forms onto one term. Each case has 1–4
  * opinions with lognormal lengths; a case averages about 1,530 indexed
  * tokens, the reference corpus's avgdl.
  */
object Gen {

  /** One query as the serve loop replays it. `bands` names the
    * document-frequency band each surface term was drawn from.
    */
  final case class Query(id: Int, text: String, mode: String, bands: Seq[String])

  /** What the benchmark keeps in memory about a generated corpus: the
    * expected 160-character snippet of every case (its first opinion).
    */
  final case class Corpus(jsonl: Path, bytes: Long, snippets: Map[Long, String])

  val OR = "or"
  val AND = "and"
  val PRUNED = "pruned"
  val SnippetLen = 160
  val FirstCaseId = 1000000L

  private def rng(seed: Long, stream: Long): SplittableRandom =
    new SplittableRandom(seed * 0x9E3779B97F4A7C15L + stream * 0xBF58476D1CE4E5B9L)

  // ---------------------------------------------------------------- vocab

  private val Onsets = Array("b", "c", "d", "f", "g", "h", "j", "k", "l", "m",
    "n", "p", "r", "s", "t", "v", "w", "z", "br", "cl", "dr", "fl", "gr",
    "pl", "pr", "st", "tr", "sh", "ch", "th", "sp", "qu")
  private val Vowels = Array("a", "e", "i", "o", "u", "ai", "ea", "ou", "io", "ee")
  private val Codas = Array("", "", "", "n", "r", "l", "s", "t", "m", "nd",
    "rt", "ck", "st", "mp")
  private val Suffixes = Array("s", "ed", "ing", "ment", "ly", "ness", "ation", "er")

  /** Stopwords as they occur in running text, most frequent first. */
  private val StopText = Array("the", "of", "to", "and", "a", "in", "that",
    "is", "for", "it", "as", "was", "with", "be", "by", "on", "not", "he",
    "this", "are", "or", "his", "from", "at", "which", "but", "have", "an",
    "had", "they", "were", "their", "there", "been", "has", "no", "if",
    "any", "such", "all", "upon", "its", "into", "other", "than", "when",
    "may", "under", "who", "shall", "so", "these", "would", "should",
    "them", "only", "same", "what", "after", "before", "between", "then",
    "does", "did", "him", "her", "we", "our", "being", "each", "over",
    "further", "about", "against", "because", "both", "those", "where")
  // "upon", "may", "shall", "would" are not NLTK stopwords: real legal text
  // carries them, and they are indexed like any other word

  private val Contractions = Array("can't", "won't", "don't", "isn't",
    "didn't", "wouldn't", "couldn't", "it's", "we're", "they've", "I'm",
    "shouldn't", "doesn't", "you'll")
  private val Apostrophed = Array("o'clock", "O'Brien", "O'Neil",
    "D'Amato", "ne'er", "rock'n'roll")
  private val Reporters = Array("Mass.", "N.E.", "U.S.", "F.2d", "So.",
    "Pa.", "N.Y.", "Cal. App.", "Ill.", "S.W.")

  /** The content vocabulary, in rank order (rank 0 most frequent). */
  final class Vocab(val words: Array[String], cdf: Array[Double]) {
    def size: Int = words.length
    def draw(r: SplittableRandom): Int = {
      val i = java.util.Arrays.binarySearch(cdf, r.nextDouble())
      math.min(if (i >= 0) i else -i - 1, cdf.length - 1)
    }
  }

  /** ~30k lemmas with 1–3 surface forms each, ranked by a seeded shuffle
    * and weighted Zipf–Mandelbrot (s = 1.05, q = 2.7).
    */
  def vocab(seed: Long): Vocab = vocabs.getOrElseUpdate(seed, makeVocab(seed))

  private val vocabs = mutable.HashMap.empty[Long, Vocab]

  private def makeVocab(seed: Long): Vocab = {
    val r = rng(seed, 1)
    val stop = graft.text.Stopwords.englishSet
    val seen = mutable.HashSet.empty[String]
    val words = mutable.ArrayBuffer.empty[String]
    val Lemmas = 30000
    var made = 0
    while (made < Lemmas) {
      val sb = new StringBuilder
      val syl = 2 + r.nextInt(2)
      var i = 0
      while (i < syl) {
        sb.append(Onsets(r.nextInt(Onsets.length)))
          .append(Vowels(r.nextInt(Vowels.length)))
        if (i == syl - 1 || r.nextInt(3) == 0) sb.append(Codas(r.nextInt(Codas.length)))
        i += 1
      }
      val lemma = sb.toString
      if (!stop.contains(lemma) && seen.add(lemma)) {
        made += 1
        words += lemma
        val forms = r.nextInt(3)
        var f = 0
        while (f < forms) {
          val w = lemma + Suffixes(r.nextInt(Suffixes.length))
          if (seen.add(w)) words += w
          f += 1
        }
      }
    }
    val arr = words.toArray
    // seeded Fisher–Yates: which form is frequent is part of the corpus
    var i = arr.length - 1
    while (i > 0) {
      val j = r.nextInt(i + 1)
      val t = arr(i); arr(i) = arr(j); arr(j) = t
      i -= 1
    }
    val w = Array.tabulate(arr.length)(k => 1.0 / math.pow(k + 2.7, 1.05))
    val total = w.sum
    val cdf = new Array[Double](w.length)
    var acc = 0.0
    var k = 0
    while (k < w.length) { acc += w(k) / total; cdf(k) = acc; k += 1 }
    new Vocab(arr, cdf)
  }

  // --------------------------------------------------------------- corpus

  private def cap(w: String): String =
    if (w.isEmpty) w else w.substring(0, 1).toUpperCase + w.substring(1)

  private def lognormal(r: SplittableRandom, mean: Double, sigma: Double): Double = {
    // Box–Muller; median = mean / exp(sigma^2 / 2)
    val u1 = 1.0 - r.nextDouble()
    val u2 = r.nextDouble()
    val z = math.sqrt(-2 * math.log(u1)) * math.cos(2 * math.Pi * u2)
    mean * math.exp(sigma * z - sigma * sigma / 2)
  }

  /** One opinion's text: about `words` running words in sentences. */
  private def opinionText(r: SplittableRandom, v: Vocab, words: Int): String = {
    val sb = new java.lang.StringBuilder(words * 7)
    var n = 0
    while (n < words) {
      val len = 6 + r.nextInt(24)
      var i = 0
      while (i < len) {
        val p = r.nextDouble()
        val w =
          if (p < 0.45) StopText(math.min(r.nextInt(StopText.length), r.nextInt(StopText.length)))
          else if (p < 0.457) (1 + r.nextInt(1999)).toString
          else if (p < 0.461) s"${1 + r.nextInt(400)} ${Reporters(r.nextInt(Reporters.length))} ${1 + r.nextInt(900)}"
          else if (p < 0.466) Contractions(r.nextInt(Contractions.length))
          else if (p < 0.472) v.words(v.draw(r)) + "'s"
          else if (p < 0.4725) Apostrophed(r.nextInt(Apostrophed.length))
          else v.words(v.draw(r))
        if (i > 0) sb.append(' ')
        sb.append(if (i == 0) cap(w) else w)
        if (i < len - 1 && r.nextInt(16) == 0) sb.append(if (r.nextInt(8) == 0) ";" else ",")
        i += 1
      }
      sb.append('.')
      if (n + len < words) sb.append(' ')
      n += len
    }
    sb.toString
  }

  private def arr(xs: Seq[String]): String = xs.map(Json.str).mkString("[", ",", "]")

  private val Courts = Array(
    ("Supreme Judicial Court of Massachusetts", "Mass.", "mass", "Massachusetts"),
    ("Appeals Court of Massachusetts", "Mass. App. Ct.", "mass-app-ct", "Massachusetts"),
    ("Supreme Court of Pennsylvania", "Pa.", "pa", "Pennsylvania"),
    ("Court of Appeals of New York", "N.Y.", "ny", "New York"),
    ("Illinois Appellate Court", "Ill. App. Ct.", "ill-app-ct", "Illinois"))

  /** Writes `cases` CAP-schema cases as JSONL; returns the expected
    * snippet of each case (its first opinion, truncated the way the
    * serving app truncates it).
    */
  private def writeCorpus(seed: Long, cases: Int, v: Vocab, out: Path): Map[Long, String] = {
    val r = rng(seed, 2)
    val snippets = mutable.HashMap.empty[Long, String]
    val w = new BufferedWriter(new OutputStreamWriter(Files.newOutputStream(out),
      StandardCharsets.UTF_8), 1 << 20)
    try {
      var c = 0
      while (c < cases) {
        val id = FirstCaseId + c
        val p = r.nextDouble()
        val nOps = if (p < 0.91) 1 else if (p < 0.97) 2 else if (p < 0.99) 3 else 4
        val ops = (0 until nOps).map { o =>
          val words = math.max(40, lognormal(r, 2460.0, 0.6).toInt)
          val text = opinionText(r, v, words)
          val author = cap(v.words(v.draw(r))) + ", J."
          val kind = if (o == 0) "majority" else if (r.nextBoolean()) "dissent" else "concurrence"
          (author, text, kind)
        }
        val first = ops.head._2
        snippets(id) =
          if (first.length > SnippetLen) first.substring(0, SnippetLen) + "..." else first
        val a = cap(v.words(v.draw(r)))
        val b = cap(v.words(v.draw(r)))
        val (court, abbr, slug, juris) = Courts(r.nextInt(Courts.length))
        val vol = 1 + r.nextInt(500)
        val page = 1 + r.nextInt(900)
        val date = f"${1850 + r.nextInt(170)}%04d-${1 + r.nextInt(12)}%02d-${1 + r.nextInt(28)}%02d"
        val line =
          s"""{"id":$id,"name":${Json.str(s"$a v. $b")},"name_abbreviation":${Json.str(s"$a v. $b")},""" +
          s""""decision_date":"$date","docket_number":"No. ${r.nextInt(9000) + 100}",""" +
          s""""first_page":"$page","last_page":"${page + 1 + r.nextInt(30)}",""" +
          s""""court":{"id":${Courts.indexWhere(_._1 == court) + 1},"jurisdiction_url":"https://api.case.law/v1/jurisdictions/$slug/",""" +
          s""""name":${Json.str(court)},"name_abbreviation":${Json.str(abbr)},"slug":"$slug"},""" +
          s""""jurisdiction":{"id":${juris.length},"name":${Json.str(juris)},"name_long":${Json.str("State of " + juris)},"slug":"$slug","whitelisted":true},""" +
          s""""citations":[{"cite":${Json.str(s"$vol $abbr $page")},"type":"official"}],""" +
          s""""reporter":{"full_name":${Json.str(juris + " Reports")}},"volume":{"volume_number":"$vol"},""" +
          s""""casebody":{"data":{"attorneys":${arr(Seq(s"${cap(v.words(v.draw(r)))}, for plaintiff."))},""" +
          s""""head_matter":${Json.str(s"$a v. $b. $date.")},"judges":${arr(ops.map(_._1))},""" +
          s""""opinions":${ops.map { case (au, t, k) => s"""{"author":${Json.str(au)},"text":${Json.str(t)},"type":"$k"}""" }.mkString("[", ",", "]")},""" +
          s""""parties":${arr(Seq(a, b))}},"status":"ok"}}"""
        w.write(line)
        w.write('\n')
        c += 1
      }
    } finally w.close()
    snippets.toMap
  }

  /** The corpus for (seed, cases) under `root`, written once: a second
    * call with the same arguments reuses the files. Keeps the three most
    * recently used corpora and deletes older ones.
    */
  def corpus(root: Path, seed: Long, cases: Int): Corpus = {
    val dir = root.resolve(s"corpus-$cases-$seed")
    val jsonl = dir.resolve("cases.jsonl")
    val snipFile = dir.resolve("snippets.tsv")
    val done = dir.resolve("DONE")
    if (!Files.exists(done)) {
      Files.createDirectories(dir)
      val snippets = writeCorpus(seed, cases, vocab(seed), jsonl)
      Files.write(snipFile, snippets.toSeq.sortBy(_._1)
        .map { case (id, s) => s"$id\t$s" }.mkString("", "\n", "\n")
        .getBytes(StandardCharsets.UTF_8))
      Files.write(done, Array.emptyByteArray)
    }
    Files.setLastModifiedTime(done, java.nio.file.attribute.FileTime.fromMillis(System.currentTimeMillis()))
    evict(root, keep = 3)
    val snippets = scala.io.Source.fromFile(snipFile.toFile, "UTF-8").getLines()
      .map { l => val t = l.indexOf('\t'); l.substring(0, t).toLong -> l.substring(t + 1) }.toMap
    Corpus(jsonl, Files.size(jsonl), snippets)
  }

  private def evict(root: Path, keep: Int): Unit = {
    import scala.jdk.CollectionConverters._
    val dirs = Files.list(root).iterator().asScala
      .filter(d => d.getFileName.toString.startsWith("corpus-") && Files.exists(d.resolve("DONE")))
      .toSeq.sortBy(d => -Files.getLastModifiedTime(d.resolve("DONE")).toMillis)
    dirs.drop(keep).foreach(deleteTree)
  }

  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    import scala.jdk.CollectionConverters._
    Files.walk(p).iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists)
  }

  // -------------------------------------------------------------- queries

  private def zeroHitWord(r: SplittableRandom): String =
    "zyqx" + (0 until 2).map(_ => Onsets(r.nextInt(Onsets.length)) + Vowels(r.nextInt(Vowels.length))).mkString

  private def surface(r: SplittableRandom, w: String): String =
    if (r.nextInt(10) < 3) cap(w) else w

  private def pickRank(r: SplittableRandom, v: Vocab, band: String): Int = band match {
    case "head" => r.nextInt(100)
    case "torso" => 100 + r.nextInt(2900)
    case _ => 3000 + r.nextInt(math.min(v.size, 40000) - 3000)
  }

  /** The mode of request i: OR/AND/pruned = 60/20/20 in every window of
    * five requests, so that a short window holds the same mix whatever
    * the seed.
    */
  private val ModeCycle = Array(OR, AND, OR, PRUNED, OR)

  /** Term count of the query at popularity rank k: 1/2/3 = 40/40/20. */
  private val HeadTerms = Array(1, 2, 1, 3, 2, 1, 2, 1, 3, 2)

  /** Band of term j of the query at rank k: head/torso/tail = 25/50/25. */
  private val HeadBands = Array("torso", "head", "torso", "tail")

  /** serve_head's pool: per mode, distinct 1–3-term queries in popularity
    * order (600 OR, 200 AND, 200 pruned). The shape of the query at each
    * rank (term count, the band of every term, whether one term is a
    * zero-hit word, about 3%) is fixed; the seed picks the words.
    */
  def headPool(seed: Long): Map[String, IndexedSeq[Query]] = {
    val v = vocab(seed)
    val r = rng(seed, 3)
    val seen = mutable.HashSet.empty[String]
    var id = 0
    Seq(OR -> 600, AND -> 200, PRUNED -> 200).map { case (mode, n) =>
      val out = mutable.ArrayBuffer.empty[Query]
      while (out.size < n) {
        val k = out.size
        val terms = (0 until HeadTerms(k % HeadTerms.length)).map { j =>
          if (j == 0 && k % 33 == 32) (zeroHitWord(r), "zero")
          else {
            val b = HeadBands((k + j) % HeadBands.length)
            (surface(r, v.words(pickRank(r, v, b))), b)
          }
        }
        val text = terms.map(_._1).mkString(" ")
        if (seen.add(text.toLowerCase)) {
          out += Query(id, text, mode, terms.map(_._2))
          id += 1
        }
      }
      mode -> out.toIndexedSeq
    }.toMap
  }

  /** `n` serve_head requests: request i has mode ModeCycle(i % 5) and
    * takes its query from that mode's pool at a Zipf(1.0)-distributed
    * popularity rank, so popular queries repeat. The ranks come from a
    * golden-ratio sequence with a seeded start rather than independent
    * draws: every prefix of the stream then covers the popularity curve
    * evenly, and a short window sees the same mix of popular and rare
    * queries whatever the seed.
    */
  def headDraws(seed: Long, stream: Long, pool: Map[String, IndexedSeq[Query]],
      n: Int): IndexedSeq[Query] = {
    val r = rng(seed, stream)
    val start = pool.keys.toSeq.sorted.map(m => m -> r.nextDouble()).toMap
    val cdfs = pool.map { case (m, qs) =>
      m -> qs.indices.map(i => 1.0 / (i + 1)).scanLeft(0.0)(_ + _).tail.toArray }
    val phi = (math.sqrt(5) - 1) / 2
    val taken = mutable.HashMap.empty[String, Int].withDefaultValue(0)
    (0 until n).map { i =>
      val m = ModeCycle(i % ModeCycle.length)
      val cdf = cdfs(m)
      val u = (start(m) + taken(m) * phi) % 1.0
      taken(m) += 1
      val j = java.util.Arrays.binarySearch(cdf, u * cdf.last)
      pool(m)(math.min(if (j >= 0) j else -j - 1, cdf.length - 1))
    }
  }

  /** serve_tail's stream: `n` unique queries. Query i has 4 + i % 5
    * terms, the first 1 or 2 of them among the 100 most frequent words,
    * the rest alternately torso and tail; every third query is pruned,
    * the others OR. (An even split puts the median latency in the gap
    * between the OR and the slower pruned cluster, where it jumps from
    * run to run.) The seed picks the words. `exclude` holds lowercased
    * texts another stream already used.
    */
  def tailStream(seed: Long, stream: Long, n: Int,
      exclude: Set[String] = Set.empty): IndexedSeq[Query] = {
    val v = vocab(seed)
    val r = rng(seed, stream)
    val seen = mutable.HashSet.empty[String] ++= exclude
    val out = mutable.ArrayBuffer.empty[Query]
    while (out.size < n) {
      val i = out.size
      val nHead = 1 + (i / 10) % 2
      val terms = (0 until 4 + i % 5).map { j =>
        val b = if (j < nHead) "head" else if ((i + j) % 2 == 0) "torso" else "tail"
        (surface(r, v.words(pickRank(r, v, b))), b)
      }
      val text = terms.map(_._1).mkString(" ")
      if (seen.add(text.toLowerCase))
        out += Query(i, text, if (i % 3 == 2) PRUNED else OR, terms.map(_._2))
    }
    out.toIndexedSeq
  }

  /** Writes the content vocabulary in rank order with the band of each
    * rank: head (the 100 most frequent), torso (to rank 3,000), tail.
    */
  def writeVocab(file: Path, seed: Long): Unit =
    Files.write(file, vocab(seed).words.zipWithIndex.map { case (w, k) =>
      s"$k\t$w\t${if (k < 100) "head" else if (k < 3000) "torso" else "tail"}"
    }.mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))

  /** Writes the query streams beside the corpus, one query a line:
    * id, mode, text, and the band of every term.
    */
  def writeQueries(file: Path, qs: Seq[Query]): Unit =
    Files.write(file, qs.map(q => s"${q.id}\t${q.mode}\t${q.text}\t${q.bands.mkString(",")}")
      .mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
}
