package graft.api

import graft.index.IndexReader
import graft.query.{Excerpts, Executor, IndexExecutor, IndexQueryCache, LocalServe,
  QueryParams, QueryParser}
import org.apache.spark.sql.DataFrame

/** One hit; url comes from the docs store / a corpus `url` column when
  * present (reference: hits carry title+url from docs.DB,
  * CompletionServer.cpp:1556-1563), else "".
  */
case class Hit(id: Long, score: Double, excerpt: String, url: String = "")
case class Completion(text: String, score: Double, dc: Long, oc: Long)
case class SearchResult(query: String, hits: Seq[Hit], completions: Seq[Completion]) {

  /** Reference-shaped JSON (CompletionServer.cpp:1597-1711):
    * completions with sc/dc/oc, hits with score/id/excerpt.
    */
  def toJson: String = {
    def esc(s: String) = s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    }
    val cs = completions.map(c =>
      s"""{"text":"${esc(c.text)}","sc":${c.score},"dc":${c.dc},"oc":${c.oc}}""").mkString(",")
    val hs = hits.map(h =>
      s"""{"id":${h.id},"score":${h.score},"url":"${esc(h.url)}",""" +
        s""""excerpt":"${esc(h.excerpt)}"}""").mkString(",")
    s"""{"result":{"query":"${esc(query)}",""" +
      s""""completions":{"sent":${completions.size},"c":[$cs]},""" +
      s""""hits":{"sent":${hits.size},"hit":[$hs]}}}"""
  }

  /** Reference-shaped XML -- the reference's DEFAULT wire format
    * (CompletionServer.cpp:1468-1594): `<result>` with `<query>`,
    * `<status>`, `<completions sent=..>` of `<c sc dc oc>` elements and
    * `<hits sent=.. first=..>` of `<hit score id>` elements carrying
    * `<url>` (from the docs store) and `<excerpt>`s. Elements we cannot
    * fill (`<info>` needs a hit title source; per-query log ids and
    * timings live in the server) are omitted rather than faked.
    */
  def toXml(firstHit: Int = 0): String = {
    def esc(s: String) = s.flatMap {
      case '&' => "&amp;"; case '<' => "&lt;"; case '>' => "&gt;"
      case '"' => "&quot;"; case c => c.toString
    }
    val sb = new StringBuilder
    sb ++= "<?xml version=\"1.0\" encoding=\"UTF-8\"?>\r\n<result>\r\n"
    sb ++= s"<query>${esc(query)}</query>\r\n"
    sb ++= "<status code=\"200\">OK</status>\r\n"
    sb ++= s"""<completions sent="${completions.size}">\r\n"""
    completions.foreach { c =>
      sb ++= s"""<c sc="${c.score}" dc="${c.dc}" oc="${c.oc}">${esc(c.text)}</c>\r\n"""
    }
    sb ++= "</completions>\r\n"
    sb ++= s"""<hits sent="${hits.size}" first="$firstHit">\r\n"""
    hits.foreach { h =>
      sb ++= s"""<hit score="${h.score}" id="${h.id}">\r\n"""
      if (h.url.nonEmpty) sb ++= s"<url>${esc(h.url)}</url>\r\n"
      if (h.excerpt.nonEmpty) sb ++= s"<excerpt>${esc(h.excerpt)}</excerpt>\r\n"
      sb ++= "</hit>\r\n"
    }
    sb ++= "</hits>\r\n</result>\r\n"
    sb.toString
  }
}

/** User-facing search facade: one call = parse -> evaluate -> top-k hits +
  * completions + excerpts (the reference's HTTP handler semantics,
  * minus HTTP). `search` runs the logical path over a corpus; `searchIndex`
  * the physical path over a built index + docs store.
  */
object Search {

  /** Logical-path search. The full request surface rides in `params`:
    * `firstHit` paginates the hit window, `rankDocs`/`rankWords` pick the
    * orderings, `excerptsPerHit` the excerpt count (reference `f=`, `rd=`,
    * `rw=`, `en=`; QueryParameters.cpp:290-305).
    */
  def search(corpus: DataFrame, query: String, k: Int = 10,
             completionsK: Int = 10, excerptRadius: Int = 2,
             params: QueryParams = QueryParams.Default): SearchResult = {
    val page = pageOf(Executor.hits(corpus, query, k, params))
    val terms = Terms(query)
    val (excerpts, urls) = joinDocs(corpus, page, terms, excerptRadius,
      params.excerptsPerHit, withUrls = corpus.columns.contains("url"))
    assemble(query, terms, page, excerpts, urls,
      completionsOf(Executor.completions(corpus, query, completionsK, params)))
  }

  /** Physical-path variant: hits/completions from the block index, excerpt
    * text from its docs store; the corpus is never read. With `cache`, a
    * serving session's atoms resolve through that explicit history;
    * without one they route through the process default
    * ([[graft.query.QueryHistory.default]]) -- prefix extensions filter
    * cached relations instead of re-scanning blocks either way.
    */
  def searchIndex(reader: IndexReader, query: String, k: Int = 10,
                  completionsK: Int = 10, excerptRadius: Int = 2,
                  cache: Option[IndexQueryCache] = None,
                  params: QueryParams = QueryParams.Default): SearchResult =
    // borrow scope: every history relation handed to this request stays
    // eviction-guarded until the result is fully materialized -- a
    // concurrent request's oversized insert (or our own) cannot unpersist
    // a relation mid-collect (IndexQueryCache.borrow)
    cache.getOrElse(graft.query.QueryHistory.default).borrow {
      searchIndexInner(reader, query, k, completionsK, excerptRadius, cache, params)
    }

  private def searchIndexInner(reader: IndexReader, query: String, k: Int,
                               completionsK: Int, excerptRadius: Int,
                               cache: Option[IndexQueryCache],
                               params: QueryParams): SearchResult = {
    // hits page: LocalServe's driver arrays under its guards (zero Spark
    // jobs warm), else the distributed plan, executed ONCE
    val page = LocalServe.hitsPage(reader, query, k, params).getOrElse(
      pageOf(cache.fold(IndexExecutor.hits(reader, query, k, params))(
        IndexExecutor.hits(reader, query, k, params, _))))
    val terms = Terms(query)
    val ids = page.map(_._1).toSeq
    val (excerpts, urls) =
      // no docs store built next to this index -> hits without excerpts
      // (the reference server likewise needs docs.DB for excerpts)
      if (!reader.hasDocsStore) (Map.empty[Long, String], Map.empty[Long, String])
      else (for {
        // hit texts from the driver docs LRU, whichever path served the
        // hits (one pruned scan cold, zero jobs warm)
        ex <- LocalServe.excerptsOf(reader, ids, terms.exact, terms.prefixes,
          excerptRadius, params.excerptsPerHit)
        us <- LocalServe.urlsOf(reader, ids)
      } yield (ex, us)).getOrElse(joinDocs(reader.docs, page, terms,
        excerptRadius, params.excerptsPerHit, withUrls = true))
    assemble(query, terms, page, excerpts, urls,
      LocalServe.completionsPage(reader, query, completionsK, params).getOrElse(
        completionsOf(cache.fold(IndexExecutor.completions(reader, query, completionsK, params))(
          IndexExecutor.completions(reader, query, completionsK, params, _)))))
  }

  /** What the assembly reads off the query (parsed under default params):
    * the highlight words -- exact words and prefixes of its non-NOT parts
    * -- and whether completions are asked for (the last part is a prefix).
    */
  private final case class Terms(exact: Seq[String], prefixes: Seq[String],
                                 lastIsPrefix: Boolean)

  private object Terms {
    def apply(query: String): Terms = {
      val parsed = QueryParser.parse(query)
      val words = parsed.parts.map(_.atom).collect {
        case w: QueryParser.Word if !w.not => w
        // representative word alternative (OR alts may also be ranges)
        case QueryParser.OrAtoms(alts)
            if alts.exists(_.isInstanceOf[QueryParser.Word]) =>
          alts.collectFirst { case w: QueryParser.Word => w }.get
      }
      val lastIsPrefix = parsed.parts.last.atom match {
        case w: QueryParser.Word => w.prefix
        case _ => false
      }
      Terms(words.filterNot(_.prefix).map(_.text), words.filter(_.prefix).map(_.text),
        lastIsPrefix)
    }
  }

  /** Executes a (doc_id, score) hits plan once into a driver page. */
  private def pageOf(hits: DataFrame): Array[(Long, Double)] =
    hits.collect().map(r => (r.getLong(0), r.getDouble(1)))

  private def completionsOf(df: DataFrame): Array[(String, Double, Long, Long)] =
    df.collect().map(r => (r.getString(0), r.getDouble(1), r.getLong(2), r.getLong(3)))

  /** Excerpts and urls of a driver page from a (doc_id, text[, url])
    * relation: the page re-exposed as a LocalRelation, then one semi-join
    * each -- the distributed plan behind the page never runs again.
    */
  private def joinDocs(docs: DataFrame, page: Array[(Long, Double)], terms: Terms,
                       er: Int, en: Int,
                       withUrls: Boolean): (Map[Long, String], Map[Long, String]) = {
    import org.apache.spark.sql.functions.col
    val hits = docs.sparkSession.createDataFrame(page.toSeq).toDF("doc_id", "score")
    val excerpts = Excerpts.generateAll(docs, hits, terms.exact, terms.prefixes, er, en)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val urls =
      if (!withUrls) Map.empty[Long, String]
      else docs.join(hits.select(col("doc_id")).distinct(), Seq("doc_id"), "left_semi")
        .select(col("doc_id"), col("url"))
        .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    (excerpts, urls)
  }

  /** Builds the answer from driver-resident pieces only -- no Dataset is
    * built or collected here: the hits page in page order with each hit's
    * excerpt and url where the docs source holds it, and the completions
    * page (by-name: only computed when the last part is a prefix).
    */
  private def assemble(query: String, terms: Terms, page: Array[(Long, Double)],
                       excerpts: Map[Long, String], urls: Map[Long, String],
                       completions: => Array[(String, Double, Long, Long)]): SearchResult = {
    val hits = page.map { case (id, score) =>
      Hit(id, score, excerpts.getOrElse(id, ""), urls.getOrElse(id, ""))
    }.toSeq
    val comps =
      if (!terms.lastIsPrefix) Seq.empty
      else completions.map { case (t, sc, dc, oc) => Completion(t, sc, dc, oc) }.toSeq
    SearchResult(query, hits, comps)
  }
}
