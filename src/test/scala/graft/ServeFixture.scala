package graft

import graft.api.{Completion, Hit, SearchResult}
import graft.index.{IndexBuilder, IndexReader}
import graft.query.{Excerpts, IndexExecutor, QueryParams, QueryParser}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, concat, lit}

/** Small indexes for the serving specs, built once per test JVM, and the
  * reference search assembly they are compared against.
  */
object ServeFixture {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  /** LocalServeSpec's corpus: tf variety, shared prefixes, phrase/near
    * structure, a synonym pair.
    */
  lazy val corpus: DataFrame = Seq(
    (1L, "aachen aal aalglatt aargau aal"),
    (2L, "aachen aalglatt aal pad pad pad pad"),
    (3L, "babbeln baby babyboom babylonisch aachen"),
    (4L, "babbeln baby babyboom baby baby"),
    (5L, "merge aal aachen aargau merge"),
    (6L, "join aal zebra aachen join join"),
    (7L, "aal aachen aal aachen aal pad"),
    (8L, "zebra pad pad aachen aal aalglatt aargau")
  ).toDF("doc_id", "text")

  /** 5000 distinct `w...` words over 50 docs: the `w*` prefix spans more
    * terms than [[IndexReader.MaxSliceTerms]], so it never comes onto the
    * driver and takes the distributed plans.
    */
  lazy val wideCorpus: DataFrame = {
    def word(i: Int): String =
      "w" + Seq(i / 676, i / 26 % 26, i % 26).map(d => ('a' + d).toChar).mkString
    (0 until 50).map(d => (d.toLong + 1, (0 until 100).map(j => word(d * 100 + j))
      .mkString(" ") + " aachen")).toDF("doc_id", "text")
  }

  private def build(c: DataFrame, docsStore: Boolean): IndexReader = {
    val dir = java.nio.file.Files.createTempDirectory("graft_serve").toString
    IndexBuilder.build(spark, c, dir, numShards = 1, blockSize = 4)
    if (docsStore)
      IndexBuilder.buildDocsStore(spark,
        c.withColumn("url", concat(lit("http://u/"), col("doc_id"))), dir)
    new IndexReader(spark, dir)
  }

  lazy val reader: IndexReader = build(corpus, docsStore = true)
  lazy val wideReader: IndexReader = build(wideCorpus, docsStore = true)
  lazy val noDocsReader: IndexReader = build(corpus, docsStore = false)

  /** The search assembly as it stood before driver pages: the distributed
    * hits plan collected once and re-exposed as a LocalRelation,
    * [[Excerpts.generateAll]] and a docs semi-join over it for excerpts and
    * urls, and the distributed completions plan when the last part is a
    * prefix.
    */
  def reference(r: IndexReader, q: String, k: Int = 10, ck: Int = 10,
                er: Int = 2, p: QueryParams = QueryParams.Default): SearchResult = {
    val plan = IndexExecutor.hits(r, q, k, p)
    val hitsDf = spark.createDataFrame(java.util.Arrays.asList(plan.collect(): _*), plan.schema)
    val parsed = QueryParser.parse(q)
    val words = parsed.parts.map(_.atom).collect {
      case w: QueryParser.Word if !w.not => w
      case QueryParser.OrAtoms(alts) if alts.exists(_.isInstanceOf[QueryParser.Word]) =>
        alts.collectFirst { case w: QueryParser.Word => w }.get
    }
    val exact = words.filterNot(_.prefix).map(_.text)
    val prefixes = words.filter(_.prefix).map(_.text)
    val (excerpts, urls) =
      if (!r.hasDocsStore) (Map.empty[Long, String], Map.empty[Long, String])
      else (Excerpts.generateAll(r.docs, hitsDf, exact, prefixes, er, p.excerptsPerHit)
          .collect().map(x => x.getLong(0) -> x.getString(1)).toMap,
        r.docs.join(hitsDf.select(col("doc_id")).distinct(), Seq("doc_id"), "left_semi")
          .select(col("doc_id"), col("url"))
          .collect().map(x => x.getLong(0) -> x.getString(1)).toMap)
    val hits = hitsDf.collect().map { x =>
      Hit(x.getLong(0), x.getDouble(1), excerpts.getOrElse(x.getLong(0), ""),
        urls.getOrElse(x.getLong(0), ""))
    }.toSeq
    val lastIsPrefix = parsed.parts.last.atom match {
      case w: QueryParser.Word => w.prefix
      case _ => false
    }
    val comps =
      if (!lastIsPrefix) Seq.empty
      else IndexExecutor.completions(r, q, ck, p).collect().map(x =>
        Completion(x.getString(0), x.getDouble(1), x.getLong(2), x.getLong(3))).toSeq
    SearchResult(q, hits, comps)
  }

  /** Runs `f` with local serving switched off, as SPARK_GRAFT_NO_LOCAL_SERVE=1 does. */
  def withoutLocalServe[A](f: => A): A = {
    val prior = IndexReader.localServeEnabled
    IndexReader.localServeEnabled = false
    try f finally IndexReader.localServeEnabled = prior
  }
}
