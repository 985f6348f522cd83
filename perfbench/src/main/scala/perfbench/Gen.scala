package perfbench

import java.nio.charset.StandardCharsets.UTF_8

/** One generated page in the engine's corpus shape
  * `(url, warc_ts, html, text, lang)` plus a dense `doc_id`.
  * `warcTs` is seconds after [[Gen.EpochSeconds]].
  */
final case class Page(docId: Long, url: String, warcTs: Long, text: String, lang: String) {
  def html: Array[Byte] =
    s"<html><head><title>${text.take(40)}</title></head><body><p>$text</p></body></html>"
      .getBytes(UTF_8)
}

/** Ground truth for the `curate` workload: which injected pages duplicate
  * which originals, and which url groups are re-fetches of one page.
  */
final case class Injected(exactDups: Seq[(Long, Long)], nearDups: Seq[(Long, Long)],
                          refetches: Seq[Seq[Long]])

/** Seeded generator for the benchmark's corpus and its request streams.
  * The program under test only ever sees what this produces.
  *
  * The corpus is Common-Crawl-shaped: a Zipf vocabulary of word-like
  * terms whose first letters are skewed the way English initials are, so
  * the one-letter `s` prefix spans more than `IndexReader.MaxSliceTerms`
  * (4096) dictionary terms and falls back to the distributed plans, while
  * longer prefixes are served locally by `LocalServe`. Each page mixes global
  * Zipf draws with draws from one of [[Topics]] topic vocabularies, so
  * two mid-frequency words co-occur often enough for AND queries to
  * answer. Page lengths are log-normal.
  *
  * Sizes against the engine's caches (constants as of this benchmark;
  * [[sizes]] gives the exact figures of a seed):
  *   - [[BaseDocs]] pages hold about 0.3M postings, far below
  *     `IndexReader.LocalListBudgetPostings` (2M): atom caches never
  *     evict within a run, so what makes `search` cold is that each of
  *     its distinct queries names atoms no earlier request fetched.
  *   - `search` sends each query once, so neither
  *     `LocalServe.ResultCacheMaxEntries` (4096) nor the history answers.
  *   - typing sessions re-type [[TypingPool]] popular queries, about 40
  *     distinct keystrokes, far below `LocalServe.ResultCacheMaxEntries`
  *     and the 200-entry / 256 MB history: repeats are cache hits.
  *   - the corpus text (about 2M chars) fits
  *     `LocalServe.DocsCacheBudgetChars` (32M chars), so excerpt texts
  *     stay resident.
  */
final class Gen(val seed: Long) {
  import Gen._

  private def rng(stream: Long) = new java.util.SplittableRandom(seed * 1000003L + stream)

  /** Vocabulary in Zipf rank order (rank 0 = most frequent). Shorter
    * words tend to the head, as function words do in real text.
    */
  val vocab: Array[String] = {
    val r = rng(1)
    val seen = new java.util.HashSet[String]()
    val words = new scala.collection.mutable.ArrayBuffer[(String, Double)]
    while (words.length < VocabSize) {
      val w = word(r)
      if (seen.add(w)) words += ((w, w.length + r.nextGaussian() * 2.5))
    }
    words.sortBy(_._2).map(_._1).toArray
  }

  private val zipfCdf: Array[Double] = {
    val c = new Array[Double](VocabSize)
    var acc = 0.0
    var i = 0
    while (i < VocabSize) { acc += 1.0 / math.pow(i + 1, ZipfExponent); c(i) = acc; i += 1 }
    i = 0
    while (i < VocabSize) { c(i) /= acc; i += 1 }
    c
  }

  /** A Zipf-distributed vocabulary rank. */
  def zipfRank(r: java.util.SplittableRandom): Int = {
    val i = java.util.Arrays.binarySearch(zipfCdf, r.nextDouble())
    math.min(VocabSize - 1, if (i >= 0) i else -i - 1)
  }

  /** Topic vocabularies: mid-frequency ranks, so topical words are neither
    * stopwords nor unseen.
    */
  private val topics: Array[Array[Int]] = {
    val r = rng(2)
    Array.fill(Topics)(Array.fill(TopicWords)(MidLo + r.nextInt(MidHi - MidLo)))
  }

  private def pageText(r: java.util.SplittableRandom): String = {
    val len = math.max(8, math.min(600, math.exp(math.log(90) + 0.6 * r.nextGaussian()).toInt))
    val topic = topics(r.nextInt(Topics))
    val sb = new StringBuilder(len * 8)
    var i = 0
    while (i < len) {
      if (i > 0) sb.append(if (r.nextInt(14) == 0) ". " else " ")
      val rank = if (r.nextInt(10) < 3) topic(r.nextInt(TopicWords)) else zipfRank(r)
      sb.append(vocab(rank))
      i += 1
    }
    sb.toString
  }

  private def lang(r: java.util.SplittableRandom): String = {
    val x = r.nextInt(100)
    if (x < 90) "en" else if (x < 97) "de" else "fr"
  }

  private def page(r: java.util.SplittableRandom, id: Long): Page =
    Page(id, s"https://www.${vocab(r.nextInt(Hosts) + 50)}.org/${vocab(MidLo + r.nextInt(5000))}/$id",
      r.nextInt(365 * 86400).toLong, pageText(r), lang(r))

  /** The base corpus: [[BaseDocs]] pages, doc ids 0 until BaseDocs. */
  lazy val base: IndexedSeq[Page] = {
    val r = rng(3)
    (0 until BaseDocs).map(i => page(r, i.toLong))
  }

  /** The `curate` corpus: a slice of the base corpus plus injected exact
    * duplicates, near duplicates (a few words replaced) and url re-fetches
    * (the same page under a variant url with a later crawl time).
    */
  lazy val curate: (IndexedSeq[Page], Injected) = {
    val r = rng(5)
    val orig = base.take(CurateDocs)
    var next = orig.length.toLong
    val extra = new scala.collection.mutable.ArrayBuffer[Page]
    // duplicates of long pages only, each original used once: every
    // injected copy keeps a 5-shingle Jaccard above the 0.5 threshold,
    // spans more than one 10-gram, and url groups stay disjoint
    val originals = {
      val long = orig.filter(_.text.count(_ == ' ') >= 60).toArray
      var i = long.length - 1
      while (i > 0) { val j = r.nextInt(i + 1); val t = long(i); long(i) = long(j); long(j) = t; i -= 1 }
      long.iterator
    }
    def pick(): Page = originals.next()
    val exact = (0 until CurateDups).map { _ =>
      val p = pick()
      val d = Page(next, s"https://mirror${r.nextInt(9)}.net/copy/$next", p.warcTs + 1, p.text, p.lang)
      next += 1; extra += d; (p.docId, d.docId)
    }
    val near = (0 until CurateDups).map { _ =>
      val p = pick()
      // one token in 30 changes: at most a sixth of the 5-shingles differ,
      // so the pair's Jaccard stays at or above 0.71
      val changed = p.text.split(" ").zipWithIndex.map { case (t, i) =>
        if (i % 30 == 15) vocab(MidHi + r.nextInt(VocabSize - MidHi)) else t }
      val d = Page(next, s"https://mirror${r.nextInt(9)}.net/near/$next", p.warcTs + 2,
        changed.mkString(" "), p.lang)
      next += 1; extra += d; (p.docId, d.docId)
    }
    val refetch = (0 until CurateDups).map { _ =>
      val p = pick()
      val variants = Seq(
        p.url.replace("https://www.", "http://WWW.") + "/",
        p.url + "?utm_source=feed#top",
        p.url.replace("https://www.", "https://") + "/index.html")
      val n = 1 + r.nextInt(variants.length)
      p.docId +: variants.take(n).zipWithIndex.map { case (u, i) =>
        val d = Page(next, u, p.warcTs + 100 + i, pageText(r), p.lang)
        next += 1; extra += d; d.docId
      }
    }
    (orig ++ extra, Injected(exact, near, refetch))
  }

  /** The popular queries typing sessions re-type: [[TypingPool]] two-word
    * queries of [[TypingWordLength]]-letter words from the top
    * [[TypingVocab]] ranks, so every session is the same number of
    * keystrokes. Only the first query's first word starts with `s`, the
    * heaviest initial, whose one-letter prefix spans more dictionary
    * terms than `IndexReader.MaxSliceTerms` and so takes the distributed
    * plans; no other word starts with one of [[HeadInitials]]. The share
    * of keystrokes that take the distributed plans is thus fixed by the
    * stream's shape, not by the seed.
    */
  lazy val typingPool: IndexedSeq[String] = {
    val r = rng(8)
    val cands = (0 until TypingVocab).map(vocab(_)).filter(_.length == TypingWordLength)
    def pick(ok: Char => Boolean): String =
      Iterator.continually(cands(r.nextInt(cands.length))).find(w => ok(w.head)).get
    val plain = (c: Char) => !HeadInitials.contains(c)
    val pool = scala.collection.mutable.LinkedHashSet.empty[String]
    while (pool.size < TypingPool)
      pool += s"${pick(if (pool.isEmpty) _ == 's' else plain)} ${pick(plain)}"
    pool.toIndexedSeq
  }

  /** Typing sessions: blocks of seeded shuffles, each holding query `i`
    * of [[typingPool]] `TypingShares(i)` times (about Zipf with exponent
    * 1), so popular queries and their prefixes recur in the same
    * proportions on every seed.
    */
  lazy val typingSessions: IndexedSeq[String] = {
    val r = rng(6)
    val block = TypingShares.zipWithIndex.flatMap { case (n, i) => Seq.fill(n)(typingPool(i)) }
    (0 until Sessions / block.length).flatMap { _ =>
      val b = block.toArray
      var i = b.length - 1
      while (i > 0) { val j = r.nextInt(i + 1); val t = b(i); b(i) = b(j); b(j) = t; i -= 1 }
      b.toSeq
    }
  }

  /** `search` requests: distinct full-word grammar queries over mid and
    * tail terms drawn from real pages, so every query has answers: AND,
    * OR, NOT, phrase (`.`), near (`..`) and join blocks, in turn.
    */
  lazy val searchQueries: IndexedSeq[String] = {
    val r = rng(7)
    val rankOf = vocab.zipWithIndex.toMap
    def midTail(w: String) = rankOf(w) >= MidLo
    val seen = new java.util.LinkedHashSet[String]()
    while (seen.size < SearchQueries) {
      val toks = words(base(r.nextInt(BaseDocs)).text)
      val cand = toks.filter(midTail)
      // phrases only over adjacent mid/tail words: a head word's postings
      // would make the cost of a request depend on the seed's draw
      val adjacent = toks.indices.init.filter(i => midTail(toks(i)) && midTail(toks(i + 1)))
      if (cand.length >= 3 && adjacent.nonEmpty) {
        def w() = cand(r.nextInt(cand.length))
        val at = adjacent(r.nextInt(adjacent.length))
        val q = seen.size % 6 match {
          case 0 => s"${w()} ${w()}"
          case 1 => s"${w()}|${w()} ${w()}"
          case 2 => s"${w()} -${vocab(MidLo + r.nextInt(MidHi - MidLo))}"
          case 3 => s"${toks(at)}.${toks(at + 1)}"
          case 4 => s"${w()}..${w()}"
          case _ => s"${w()} [${w()}#${w()}]"
        }
        seen.add(q)
      }
    }
    seen.toArray(new Array[String](0)).toIndexedSeq
  }

  /** Input sizes, to set beside the engine's cache budgets (tokens are
    * split the way [[Gen.words]] splits them, close to the engine's
    * tokenizer on this alphabet).
    */
  def sizes: Seq[(String, Long)] = {
    val toks = base.map(p => words(p.text))
    Seq("base_docs" -> base.length.toLong,
      "base_positions" -> toks.map(_.length.toLong).sum,
      "base_postings" -> toks.map(_.distinct.length.toLong).sum,
      "base_terms" -> toks.flatten.distinct.length.toLong,
      "base_text_chars" -> base.map(_.text.length.toLong).sum,
      "curate_docs" -> curate._1.length.toLong)
  }

  /** SHA-256 over every generated input, in a fixed order. */
  def digest: String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    def add(s: String): Unit = { md.update(s.getBytes(UTF_8)); md.update(0.toByte) }
    base.foreach(p => add(s"${p.docId}|${p.url}|${p.warcTs}|${p.lang}|${p.text}"))
    curate._1.foreach(p => add(s"${p.docId}|${p.url}|${p.text}"))
    add(curate._2.toString)
    typingPool.foreach(add)
    typingSessions.foreach(add)
    searchQueries.foreach(add)
    md.digest().map(b => f"$b%02x").mkString
  }
}

object Gen {
  def words(text: String): Array[String] = text.split("[ .]+")

  val VocabSize = 80000
  val ZipfExponent = 0.9
  val BaseDocs = 3000
  val Topics = 200
  val TopicWords = 120
  /** Mid-frequency band of vocabulary ranks (search terms, topic words). */
  val MidLo = 300
  val MidHi = 12000
  val Hosts = 800
  val TypingVocab = 3000
  val TypingWordLength = 5
  /** Sessions per query of the typing pool in each block of sessions. */
  val TypingShares = Seq(12, 6, 4, 3)
  val TypingPool: Int = TypingShares.length
  /** The three heaviest initials of [[InitialWeights]]; the `c` and `p`
    * one-letter prefixes sit near `IndexReader.MaxSliceTerms`, so only the
    * `s` of the first typing query may cross it.
    */
  val HeadInitials = Set('s', 'p', 'c')
  val Sessions = 20000
  val SearchQueries = 1000
  val CurateDocs = 300
  val CurateDups = 15
  val EpochSeconds = 1704067200L // 2024-01-01T00:00:00Z

  // English-like initial-letter weights (a..z)
  private val InitialWeights = Array(5.0, 4, 12, 5, 3, 3, 2, 3, 3, 0.6, 1, 2.5, 5, 2, 2, 11,
    0.3, 4, 16, 5, 1.5, 1.5, 2.5, 0.1, 0.3, 0.2)
  private val InitialCdf = InitialWeights.scanLeft(0.0)(_ + _).tail.map(_ / InitialWeights.sum)
  private val Vowels = "aeiouy"
  private val Onsets = Array("b", "c", "d", "f", "g", "h", "k", "l", "m", "n", "p", "r", "s",
    "t", "v", "w", "z", "br", "ch", "cl", "cr", "dr", "fl", "gr", "pl", "pr", "sh", "st", "th", "tr")
  private val Codas = Array("", "", "", "n", "r", "s", "t", "l", "m", "nd", "st", "ng", "ck")

  private def word(r: java.util.SplittableRandom): String = {
    val x = r.nextDouble()
    val sb = new StringBuilder
    sb.append(('a' + InitialCdf.indexWhere(_ >= x).max(0)).toChar)
    val syll = 1 + r.nextInt(3)
    var i = 0
    while (i < syll) {
      if (i > 0 || !Vowels.contains(sb.last)) sb.append(Vowels.charAt(r.nextInt(Vowels.length)))
      if (i < syll - 1) sb.append(Onsets(r.nextInt(Onsets.length)))
      else sb.append(Codas(r.nextInt(Codas.length)))
      i += 1
    }
    sb.toString
  }
}
