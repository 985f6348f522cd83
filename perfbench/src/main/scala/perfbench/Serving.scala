package perfbench

import java.nio.file.Path

import graft.api.{Completion, Hit, Search, SearchResult}
import graft.index.{IndexBuilder, IndexReader}
import graft.query._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

/** Index set-up, the traced twin of `Search.searchIndex`, and the output
  * checks shared by the serving workloads.
  */
object Serving {
  val K = 10
  val CompletionsK = 10
  val ExcerptRadius = 2
  private val P = QueryParams.Default

  /** Writes the pages as the engine's corpus table (parquet). */
  def writeCorpus(spark: SparkSession, pages: Seq[Page], path: Path): Unit =
    corpusDf(spark, pages).write.mode("overwrite").parquet(path.toString)

  def corpusDf(spark: SparkSession, pages: Seq[Page]): DataFrame = {
    import spark.implicits._
    pages.map(p => (p.url, new java.sql.Timestamp((Gen.EpochSeconds + p.warcTs) * 1000L),
      p.html, p.text, p.lang, p.docId))
      .toDF("url", "warc_ts", "html", "text", "lang", "doc_id")
  }

  /** Builds the block index and its docs store from the corpus table;
    * returns the build plus docs store seconds.
    */
  def buildIndex(ctx: Ctx, corpus: Path, dir: Path): Double = {
    val spark = ctx.spark
    val tr = ctx.tracer
    val req = tr.nextRequest()
    // each set-up tokenizes afresh: no doc-term relation cached by an
    // earlier repetition may serve this one
    graft.core.Analysis.clearProcessCaches()
    val df = spark.read.parquet(corpus.toString)
    Main.timed {
      tr.span(req, "index.build")(IndexBuilder.build(spark, df, dir.toString))
      tr.span(req, "index.docs_store")(IndexBuilder.buildDocsStore(spark, df, dir.toString))
    }._2
  }

  /** Opens a reader and loads its dictionary, as a server does before its
    * first request.
    */
  def openReader(ctx: Ctx, dir: Path): IndexReader =
    ctx.tracer.span(ctx.tracer.nextRequest(), "index.reader_open") {
      val r = new IndexReader(ctx.spark, dir.toString)
      r.dictionary.count()
      r
    }

  /** Index-size and build-rate figures of the last set-up; with tracing,
    * also the tokenizer's share (one more doc-term pass over the corpus).
    */
  def indexMetrics(ctx: Ctx, corpus: Path, dir: Path, buildSeconds: Seq[Double]): Unit = {
    val out = ctx.out
    out.named("build_docs_per_s") = (Gen.BaseDocs / Main.median(buildSeconds), "1/s")
    val textBytes = ctx.gen.base.map(_.text.getBytes("UTF-8").length.toLong).sum
    out.layer("index.bytes_per_text_byte") =
      (Main.dirBytes(dir) - Main.dirBytes(dir.resolve("docs"))).toDouble / textBytes
    if (ctx.tracer.enabled) {
      val df = ctx.spark.read.parquet(corpus.toString)
      out.layer("core.doc_terms_s") = Main.timed(ctx.tracer.span(ctx.tracer.nextRequest(),
        "core.doc_terms")(graft.core.Analysis.docTerms(df).count()))._2
    }
  }

  /** One search request: `Search.searchIndex` itself, or with `traced`,
    * the same public calls in the same order, one span each.
    */
  def search(tr: Tracer, traced: Boolean, reader: IndexReader, q: String,
             cache: Option[IndexQueryCache]): SearchResult =
    if (!traced) Search.searchIndex(reader, q, cache = cache)
    else {
      val req = tr.nextRequest()
      tr.span(req, "api.searchIndex")(
        cache.getOrElse(QueryHistory.default).borrow(tracedInner(tr, req, reader, q, cache)))
    }

  private def tracedInner(tr: Tracer, req: Long, reader: IndexReader, q: String,
                          cache: Option[IndexQueryCache]): SearchResult = {
    val spark = reader.spark
    val hits0 = tr.span(req, "query.local_hits")(LocalServe.hits(reader, q, K, P))
      .getOrElse(tr.span(req, "query.dist_hits")(cache match {
        case Some(c) => IndexExecutor.hits(reader, q, K, P, c)
        case None => IndexExecutor.hits(reader, q, K, P)
      }))
    val hitsDf = tr.span(req, "query.collect")(spark.createDataFrame(
      java.util.Arrays.asList(hits0.collect(): _*), hits0.schema))
    val parsed = tr.span(req, "query.parse")(QueryParser.parse(q))
    val words = parsed.parts.map(_.atom).collect {
      case w: QueryParser.Word if !w.not => w
      case QueryParser.OrAtoms(alts) if alts.exists(_.isInstanceOf[QueryParser.Word]) =>
        alts.collectFirst { case w: QueryParser.Word => w }.get
    }
    val exact = words.filterNot(_.prefix).map(_.text)
    val prefixes = words.filter(_.prefix).map(_.text)
    val excerpts = tr.span(req, "query.excerpts")(
      LocalServe.excerptsAll(reader, hitsDf, exact, prefixes, ExcerptRadius, P.excerptsPerHit)
        .getOrElse(Excerpts.generateAll(reader.docs, hitsDf, exact, prefixes, ExcerptRadius,
          P.excerptsPerHit))
        .collect().map(r => r.getLong(0) -> r.getString(1)).toMap)
    val urls = tr.span(req, "query.urls")(LocalServe.urls(reader, hitsDf).getOrElse(
      reader.docs.join(hitsDf.select(col("doc_id")).distinct(), Seq("doc_id"), "left_semi")
        .select(col("doc_id"), col("url")).collect()
        .map(r => r.getLong(0) -> r.getString(1)).toMap))
    val hits = hitsDf.collect().map { r =>
      Hit(r.getLong(0), r.getDouble(1), excerpts.getOrElse(r.getLong(0), ""),
        urls.getOrElse(r.getLong(0), ""))
    }.toSeq
    val lastIsPrefix = parsed.parts.last.atom match {
      case w: QueryParser.Word => w.prefix
      case _ => false
    }
    val comps =
      if (!lastIsPrefix) Seq.empty
      else tr.span(req, "query.local_completions")(
          LocalServe.completions(reader, q, CompletionsK, P).map(_.collect()))
        .getOrElse(tr.span(req, "query.dist_completions")((cache match {
          case Some(c) => IndexExecutor.completions(reader, q, CompletionsK, P, c)
          case None => IndexExecutor.completions(reader, q, CompletionsK, P)
        }).collect()))
        .map(r => Completion(r.getString(0), r.getDouble(1), r.getLong(2), r.getLong(3))).toSeq
    SearchResult(q, hits, comps)
  }

  /** The reference answer for a query: the distributed plans with a fresh
    * history, so no serving-path cache can influence it.
    */
  def reference(reader: IndexReader, q: String): Seq[(Long, Double)] = {
    val fresh = new IndexQueryCache()
    try IndexExecutor.hits(reader, q, K, P, fresh).collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSeq
    finally fresh.clear()
  }

  /** Compares served hits with the reference answers of `sample`; every
    * mismatch fails the run and counts as a failed request. Each reference
    * answer goes into the run's digest.
    */
  def checkSample(ctx: Ctx, reader: IndexReader, sample: Seq[String],
                  served: collection.Map[String, Seq[(Long, Double)]]): Unit =
    sample.foreach { q =>
      val ref = reference(reader, q)
      ctx.out.addDigest(s"$q=${ref.mkString(",")};")
      served.get(q).foreach { got =>
        if (got != ref) {
          ctx.out.failed.incrementAndGet()
          ctx.out.fail(s"'$q' served ${got.take(3)}... but the reference is ${ref.take(3)}...")
        }
      }
    }

  /** Per-layer query metrics from the traced requests' spans. */
  def queryLayers(ctx: Ctx, spans: Seq[Span], cache: IndexQueryCache): Unit = {
    val tr = ctx.tracer
    val out = ctx.out
    val byReq = spans.groupBy(_.req)
    val kids = Tracer.children(spans)
    val reqs = spans.filter(_.name == "api.searchIndex")
    def named(req: Long, n: String) = byReq(req).filter(_.name == n)
    val dist = reqs.filter(r => named(r.req, "query.dist_hits").nonEmpty)
    val local = reqs.filterNot(r => named(r.req, "query.dist_hits").nonEmpty)
    def ms(n: String, from: Seq[Span]) = from.flatMap(r => named(r.req, n)).map(_.ms)
    out.layer("query.parse_us") = Main.median(ms("query.parse", reqs).map(_ * 1000))
    out.layer("query.local_hits_ms") = Main.median(ms("query.local_hits", local))
    out.layer("query.local_share") = if (reqs.isEmpty) 0.0 else local.size.toDouble / reqs.size
    out.layer("query.fetch_jobs_per_request") = Main.mean(
      reqs.flatMap(r => named(r.req, "query.local_hits")).map(s => tr.own(s).jobs.get.toDouble))
    out.layer("query.local_completions_ms") = Main.median(
      reqs.filter(r => named(r.req, "query.dist_completions").isEmpty)
        .flatMap(r => named(r.req, "query.local_completions")).map(_.ms))
    val distWork = dist.map { r =>
      val s = named(r.req, "query.dist_hits") ++ named(r.req, "query.collect")
      val c = s.map(tr.own)
      (s.map(_.ms).sum, c.map(_.jobs.get).sum, c.map(_.tasks.get).sum,
        c.map(x => x.shuffleWrite.get + x.shuffleRead.get).sum)
    }
    out.layer("query.dist_hits_ms") = Main.median(distWork.map(_._1))
    out.layer("query.dist_jobs_per_request") = Main.mean(distWork.map(_._2.toDouble))
    out.layer("query.dist_tasks_per_request") = Main.mean(distWork.map(_._3.toDouble))
    out.layer("query.dist_shuffle_bytes") = Main.mean(distWork.map(_._4.toDouble))
    out.layer("query.zero_job_share") =
      if (reqs.isEmpty) 0.0 else reqs.count(r => tr.total(r, kids)._1 == 0).toDouble / reqs.size
    out.layer("query.excerpts_ms") = Main.median(ms("query.excerpts", reqs))
    out.layer("api.assemble_ms") = Main.median(reqs.map(tr.selfMs(_, kids)))
    out.layer("query.history_entries") = cache.size
    out.layer("query.history_bytes") = cache.cachedBytes
    out.layer("trace.spans") = spans.size
  }

  /** Per-layer index build metrics from the set-up spans. */
  def buildLayers(ctx: Ctx, spans: Seq[Span]): Unit = {
    val builds = spans.filter(_.name == "index.build")
    val c = builds.map(ctx.tracer.own)
    def med(n: String) = Main.median(spans.filter(_.name == n).map(_.ms))
    ctx.out.layer("index.build_s") = med("index.build") / 1000
    ctx.out.layer("index.build.shuffle_write_bytes") = Main.median(c.map(_.shuffleWrite.get.toDouble))
    ctx.out.layer("index.build.spill_bytes") = Main.median(c.map(_.spill.get.toDouble))
    ctx.out.layer("index.docs_store_s") = med("index.docs_store") / 1000
    ctx.out.layer("index.reader_open_ms") = med("index.reader_open")
  }
}
