package graft

import java.util.concurrent.TimeUnit

import graft.api.Search
import graft.index.{IndexBuilder, IndexReader}
import graft.query.{CorpusAtomSource, IndexAtomSource, IndexExecutor, LocalServe, QueryParams}
import graft.query.QueryParser.{Atom, OrAtoms, Word, WordRange}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.functions.{col, concat, lit}
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.funsuite.AnyFunSuite

/** The driver-RAM serving image: its vocabulary resolves atoms exactly as
  * the dictionary does (in Spark's byte order), every serving answer is
  * the same with the image published and withheld, a published image
  * serves cold searches with zero Spark jobs, and its background load runs
  * once per index and retries after a failure.
  */
class ServingImageSpec extends AnyFunSuite {
  import ServeFixture._
  import spark.implicits._

  private val D = QueryParams.Default

  private def build(c: DataFrame, prefixBoundaries: Seq[String] = Nil): String = {
    val dir = java.nio.file.Files.createTempDirectory("graft_image").toString
    IndexBuilder.build(spark, c, dir, numShards = 1, blockSize = 4,
      prefixBoundaries = prefixBoundaries)
    IndexBuilder.buildDocsStore(spark,
      c.withColumn("url", concat(lit("http://u/"), col("doc_id"))), dir)
    dir
  }

  /** A reader over `dir` whose serving image is published. */
  private def published(dir: String): IndexReader = {
    val r = new IndexReader(spark, dir)
    assert(r.imageLoad(start = true).get(60, TimeUnit.SECONDS).isDefined,
      s"expected the image of $dir to fit")
    assert(r.image.isDefined)
    r
  }

  /** A reader over `dir` that never uses a serving image. */
  private def withheld(dir: String): IndexReader = {
    val r = new IndexReader(spark, dir)
    r.imageEnabled = false
    r
  }

  /** Kept terms whose UTF-16 order and UTF-8 (code point) order disagree:
    * U+FB00 and U+FF41 sort after U+1D41A in UTF-16 and before it in
    * code point order.
    */
  private lazy val unicodeDir: String = build(Seq(
    (1L, "xa xé xж x中 merge"),
    (2L, "xﬀ xａ x𝐚 x𠀀 join"),
    (3L, "xz xa x𝐚 yｚ y𝐚b"),
    (4L, "xａ xﬀ xé merge xz")
  ).toDF("doc_id", "text"))

  test("image vocabulary resolves atoms exactly as the dictionary, in byte order") {
    val pub = published(unicodeDir)
    val wh = withheld(unicodeDir)
    val v = pub.image.get.vocabulary
    // the arrays are in UTF-8 byte order, which String.compareTo is not
    val utf8 = v.terms.toSeq.map(_.getBytes("UTF-8").map(_ & 0xff).toSeq)
    assert(utf8.zip(utf8.tail).forall { case (a, b) =>
      a.zip(b).find(p => p._1 != p._2).map(p => p._1 < p._2).getOrElse(a.length < b.length)
    })
    assert(v.terms.toSeq.zip(v.terms.tail).exists { case (a, b) => a.compareTo(b) > 0 },
      "precondition: the corpus must hold terms UTF-16 order sorts differently")

    val bmpHigh = "xﬀ"
    val astral = "x𝐚"
    val atoms: Seq[Atom] = Seq(
      Word("xa"), Word("xé"), Word(astral), Word("xａ", exact = true),
      Word("xz", not = true), Word("nosuchword"),
      Word("x", prefix = true), Word(astral, prefix = true), Word("y", prefix = true),
      Word("xａ", prefix = true), Word("q", prefix = true),
      WordRange(bmpHigh, astral), WordRange("x中", "xａ"), WordRange("xz", "xa"),
      WordRange("x", "y"),
      Word("merge", synonym = true),
      OrAtoms(Seq(Word("x", prefix = true), Word("xz"))),
      OrAtoms(Seq(WordRange(bmpHigh, astral), Word("y𝐚b"))),
      OrAtoms(Seq(Word("xa"), Word("merge", synonym = true))))
    atoms.foreach { a =>
      val viaDictionary = new IndexAtomSource(wh).candidateRunsSlice(a)
      val viaImage = IndexAtomSource.imageCandidates(v, a).get
      assert(viaImage._1 === viaDictionary._1, s"runs of $a")
      assert(viaImage._2.map(_.toSeq) === viaDictionary._2.map(_.toSeq), s"slice of $a")
      assert(new IndexAtomSource(pub).candidateRunsSlice(a)._2.map(_.toSeq) ===
        viaDictionary._2.map(_.toSeq))
      val expected = pub.dictionary.filter(CorpusAtomSource.atomPredicate(a))
        .select(col("term_id")).as[Long].collect().sorted.toSeq
      assert(viaImage._2.map(_.map(_._1).toSeq).getOrElse(Seq.empty) === expected, s"ids of $a")
    }
    // the byte-order range is not empty, as it would be in UTF-16 order
    assert(IndexAtomSource.imageCandidates(v, WordRange(bmpHigh, astral)).get._2.get.length === 3)
    for (p <- Seq("x", astral, "xé", "y", "zz")) {
      assert(pub.prefixRange(p) === wh.prefixRange(p), p)
      pub.prefixRange(p).foreach { case (lo, hi) =>
        assert(pub.vocabSliceRows(p, lo, hi).map(_.toSeq) ===
          wh.vocabSliceRows(p, lo, hi).map(_.toSeq), p)
      }
    }
    val words = v.terms.toSeq :+ "nosuchword"
    assert(pub.termInfo(words) === wh.termInfo(words))

    // a hull-sized prefix (more than MaxExactIds terms) resolves to its hull
    val wide = published(wideReader.dir)
    val w = Word("w", prefix = true)
    val hull = IndexAtomSource.imageCandidates(wide.image.get.vocabulary, w).get
    assert(hull._2.isEmpty && hull._1.length === 1)
    assert(hull === new IndexAtomSource(withheld(wideReader.dir)).candidateRunsSlice(w))
    val wideIds = wide.dictionary.filter(CorpusAtomSource.atomPredicate(w))
      .select(col("term_id")).as[Long].collect()
    assert(wideIds.length > IndexAtomSource.MaxExactIds)
    assert(hull._1.head === ((wideIds.min, wideIds.max)))
  }

  // every LocalServeSpec and SearchParitySpec shape
  private val shapes = Seq(
    "aachen", "aachen aargau", "aachen -aargau", "aargau|babylonisch",
    "ba*", "aal--aargau", "aal.aalglatt", "aal..aalglatt", "aachen=aachen",
    "aachan~", "merge^", "babbeln.baby.babyboom", "aachen.,,.aal",
    "aal -zebra aachen", "aachen -nosuchword", "nosuchword",
    "aal aalglatt.aargau", "aachen aa*", "aal -zebra aa*", "aachen aal*",
    "aal aalglatt aargau", "aachen|aal|merge", "aa*", "aal [aa*#aal*]",
    "[aachen aa*#merge aa*]", "[aa*#aal*] zebra", "[aa*#aal*#aal aa*]")

  private val knobs = Seq(
    "aachen aal" -> QueryParams(partsAgg = QueryParams.Max),
    "aa*" -> QueryParams(completionsAgg = QueryParams.Max),
    "aal" -> QueryParams(sameCompletionAgg = QueryParams.Max),
    "aal.aalglatt" -> QueryParams(partsAgg = QueryParams.SumWithBonus),
    "aal..aalglatt" -> QueryParams(partsAgg = QueryParams.SumWithBonus),
    "aal..aalglatt" -> QueryParams(window = Some((-2, 2))),
    "aachen aal*" -> QueryParams(bestMatchBonus = 4.0),
    "aachan~" -> QueryParams(fuzzyDamping = 0.5),
    "aachen" -> QueryParams(normalizeWords = true),
    "aachen aal" -> QueryParams(rankDocs = "doc"),
    "aachen aal" -> QueryParams(rankDocs = "doc", sortDocsAsc = Some(false)),
    "aal" -> QueryParams(rankDocs = "score", sortDocsAsc = Some(true)),
    "aal aachen" -> QueryParams(firstHit = 2),
    "aal" -> QueryParams(firstHit = 3),
    "aal aa*" -> QueryParams(excerptsPerHit = 1),
    "aal aa*" -> QueryParams(firstHit = 10000),
    "aachen aa*" -> QueryParams(wordSameDocAgg = QueryParams.Max),
    "aachen aa*" -> QueryParams(wordDiffDocsAgg = QueryParams.Max),
    "aachen aa*" -> QueryParams(rankWords = "dc"),
    "aachen aa*" -> QueryParams(rankWords = "oc"),
    "aachen aa*" -> QueryParams(rankWords = "word"),
    "aachen aa*" -> QueryParams(rankWords = "word", sortWordsAsc = Some(false)),
    "aal aachan~" -> QueryParams(bestMatchBonus = 2.0))

  /** Both readers give the same pages and the same full search answer. */
  private def same(pub: IndexReader, wh: IndexReader, q: String, k: Int = 10,
                   p: QueryParams = D): Unit = {
    assert(LocalServe.hitsPage(pub, q, k, p).map(_.toSeq) ===
      LocalServe.hitsPage(wh, q, k, p).map(_.toSeq), s"hits of $q / $p")
    assert(LocalServe.completionsPage(pub, q, k, p).map(_.toSeq) ===
      LocalServe.completionsPage(wh, q, k, p).map(_.toSeq), s"completions of $q / $p")
    assert(Search.searchIndex(pub, q, k, params = p) === Search.searchIndex(wh, q, k, params = p),
      s"search of $q / $p")
  }

  test("every serving shape answers the same with the image published and withheld") {
    val pub = published(reader.dir)
    val wh = withheld(reader.dir)
    shapes.foreach(same(pub, wh, _))
    knobs.foreach { case (q, p) => same(pub, wh, q, p = p) }
    for (p <- Seq(D, QueryParams(firstHit = 5), QueryParams(rankDocs = "doc")))
      same(pub, wh, "aachen aal", k = 0, p = p)
    // the image served the texts: every doc held for `pub` is the image's
    assert(LocalServe.cachedDocCount(pub) === pub.image.get.docs.get.size)
    assert(LocalServe.cachedDocCount(wh) > 0)
    // over-budget prefix: both fall back to the distributed plans
    val widePub = published(wideReader.dir)
    val wideWh = withheld(wideReader.dir)
    assert(LocalServe.hitsPage(widePub, "w*", 10, D).isEmpty)
    Seq("w*", "aachen w*", "aachen").foreach(same(widePub, wideWh, _))
    // no docs store: the image has no docs part and hits carry no texts
    val noDocsPub = published(noDocsReader.dir)
    assert(noDocsPub.image.get.docs.isEmpty)
    Seq("aachen aa*", "aal.aalglatt").foreach(same(noDocsPub, withheld(noDocsReader.dir), _))
    // byte-order ranges and prefixes over non-ASCII terms
    val uniPub = published(unicodeDir)
    val uniWh = withheld(unicodeDir)
    Seq("xﬀ--x𝐚", "x*", "x𝐚*", "merge^ x*", "xa|y*")
      .foreach(same(uniPub, uniWh, _))
    assert(Search.searchIndex(uniPub, "xﬀ--x𝐚").hits.nonEmpty)
  }

  /** (Dataset actions, Spark jobs) that `f` triggers. */
  private def work(f: => Unit): (Int, Int) = {
    val actions = new java.util.concurrent.atomic.AtomicInteger()
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val qel = new QueryExecutionListener {
      override def onSuccess(name: String, qe: QueryExecution, ns: Long): Unit =
        actions.incrementAndGet()
      override def onFailure(name: String, qe: QueryExecution, e: Exception): Unit =
        actions.incrementAndGet()
    }
    val sl = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    spark.listenerManager.register(qel)
    spark.sparkContext.addSparkListener(sl)
    try { f; Thread.sleep(500) } // both listener buses are async
    finally {
      spark.listenerManager.unregister(qel)
      spark.sparkContext.removeSparkListener(sl)
    }
    (actions.get(), jobs.get())
  }

  test("once the image is published, a cold search runs zero Spark jobs") {
    val r = new IndexReader(spark, build(corpus))
    r.nDocs // stats: every request's first read, not part of the image
    assert(r.imageLoad(start = true).get(60, TimeUnit.SECONDS).isDefined)
    // atoms and doc ids this reader has never served; the distributed
    // references run after all measurements, so none of their listener
    // events reach a measurement
    val served = Seq("aachen aa*", "babbeln.baby.babyboom", "aargau|babylonisch",
        "merge^ -zebra", "pad aal*", "nosuchword", "aal..aalglatt", "[aa*#aal*] zebra")
      .map { q =>
        var got: graft.api.SearchResult = null
        assert(work { got = Search.searchIndex(r, q) } === ((0, 0)), q)
        q -> got
      }
    served.foreach { case (q, got) => assert(got === reference(r, q), q) }
  }

  test("the loader: one load for concurrent first requests; a failed load is retried") {
    val dir = build(corpus)
    val readers = Seq(new IndexReader(spark, dir), new IndexReader(spark, dir))
    readers.foreach(_.nDocs)
    val before = IndexReader.imageLoads.get
    val errors = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val threads = (0 until 8).map { i =>
      new Thread(() =>
        try LocalServe.hitsPage(readers(i % 2), shapes(i), 10, D)
        catch { case e: Throwable => errors.add(e) })
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
    assert(errors.isEmpty, errors.toString)
    readers.foreach(r => assert(r.imageLoad(start = false).get(60, TimeUnit.SECONDS).isDefined))
    assert(IndexReader.imageLoads.get - before === 1)

    // the dictionary listing fails once: the load publishes nothing, and
    // the next serving request starts a new one
    val r = new IndexReader(spark, FlakyFileSystem.path(spark, build(corpus)))
    r.nDocs
    val n0 = IndexReader.imageLoads.get
    FlakyFileSystem.failOnce("listStatus", "/dictionary")
    val failed = r.imageLoad(start = true)
    intercept[java.util.concurrent.ExecutionException](failed.get(60, TimeUnit.SECONDS))
    assert(FlakyFileSystem.armedOps === 0)
    assert(r.image.isEmpty)
    assert(IndexReader.imageLoads.get - n0 === 1, "looking must not start a load")
    assert(LocalServe.hitsPage(r, "aachen aal", 10, D).map(_.toSeq) ===
      LocalServe.hitsPage(withheld(reader.dir), "aachen aal", 10, D).map(_.toSeq))
    assert(r.imageLoad(start = false).get(60, TimeUnit.SECONDS).isDefined)
    assert(IndexReader.imageLoads.get - n0 === 2)
    assert(r.image.isDefined)
  }

  test("prefixCuts: a transient filesystem error surfaces; the next access is right") {
    val words = Seq("apple", "banana", "grape", "kiwi", "melon", "sun", "star", "tree")
    val dir = build((1L to 12L).map(i =>
      (i, (0 until 5).map(j => words(((i * 3 + j * 5) % words.length).toInt)).mkString(" ")))
      .toDF("doc_id", "text"), prefixBoundaries = Seq("g", "s"))
    val local = new IndexReader(spark, dir, cacheBlocks = false)
    val r = new IndexReader(spark, FlakyFileSystem.path(spark, dir), cacheBlocks = false)
    val (lo, hi) = local.prefixRange("s").get
    def postings(x: IndexReader): Seq[(Long, Long)] =
      x.decode(x.blocksForRange(lo, hi)).select(col("term_id"), col("doc_id"))
        .as[(Long, Long)].collect().sorted.toSeq
    FlakyFileSystem.failOnce("exists", "/boundaries/_SUCCESS")
    intercept[java.io.IOException](r.blocksForRange(lo, hi))
    assert(FlakyFileSystem.armedOps === 0)
    assert(r.prefixCuts.map(_.toSeq) === local.prefixCuts.map(_.toSeq))
    assert(r.prefixCuts.exists(_.length == 2))
    assert(postings(r).nonEmpty && postings(r) === postings(local))
    def rows(df: DataFrame) = df.collect().map(x => (x.getLong(0), x.getDouble(1))).toSeq
    assert(rows(IndexExecutor.topK(r, "s*", 10)) === rows(IndexExecutor.topK(local, "s*", 10)))
  }
}
