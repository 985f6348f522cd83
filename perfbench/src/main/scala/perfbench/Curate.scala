package perfbench

import scala.collection.mutable.ArrayBuffer

import graft.ops.Dedup
import org.apache.spark.sql.DataFrame

/** `curate`: the dedup pipeline of `ops.Dedup` over a corpus with injected
  * exact duplicates, near duplicates and url re-fetches: Jaccard pairs,
  * their clusters, the MinHash-LSH near-dup keep set, keep-one substring
  * scrubbing and latest-url selection. No index is involved. An
  * operation is one pass of the whole pipeline over the corpus.
  *
  * Set-up (repeated [[SetupReps]] times): load the corpus into a cached
  * DataFrame. One untimed pass warms the pipeline before the timed
  * loop. The traced run traces every other pass.
  */
object Curate {
  val SetupReps = 3

  def run(ctx: Ctx): Unit = {
    val spark = ctx.spark
    import spark.implicits._
    val out = ctx.out
    val tr = ctx.tracer
    val (pages, inj) = ctx.gen.curate
    var df: DataFrame = null
    val setups = (0 until SetupReps).map { _ =>
      if (df != null) df.unpersist(true)
      Main.timed { df = Serving.corpusDf(spark, pages).cache(); df.count() }._2
    }
    Main.setupMetric(out, setups)

    val plain = ArrayBuffer.empty[Double]
    val viaTrace = ArrayBuffer.empty[Double]
    /** One pass of the whole pipeline, checked; its latency in ms, or
      * None when it threw or missed an injected duplicate, so a failed
      * pass is never timed as a fast one.
      */
    def runPass(pass: Int, twin: Boolean): Option[Double] = {
      val req = tr.nextRequest()
      def span[A](name: String)(f: => A): A = if (twin) tr.span(req, name)(f) else f
      val a = System.nanoTime()
      try {
        val pairs = span("ops.jaccard_pairs")(Dedup.jaccardPairs(df).collect())
          .map(r => (r.getLong(0), r.getLong(1)))
        val clusters = span("ops.clusters")(
          Dedup.duplicateClusters(pairs.toSeq.toDF("a", "b")).collect())
          .map(r => r.getLong(0) -> r.getLong(1)).toMap
        val keep = span("ops.keepset")(Dedup.nearDupKeepSet(df).collect()).map(_.getLong(0)).toSet
        val scrub = span("ops.substr_keepone")(Dedup.scrubSpansKeepOne(df).collect())
          .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
        val latest = span("ops.url_latest")(Dedup.urlKeepLatest(df).collect())
          .map(r => r.getLong(1) -> r.getLong(2)).toMap
        val ms = (System.nanoTime() - a) / 1e6
        val problems = check(inj, pairs.toSet, clusters, keep, scrub, latest)
        if (pass == 1) {
          pairs.sorted.foreach(p => out.addDigest(p.toString))
          keep.toSeq.sorted.foreach(k => out.addDigest(k.toString))
        }
        if (problems.isEmpty) Some(ms)
        else { out.fail(s"pass $pass: ${problems.take(3).mkString("; ")}"); None }
      } catch {
        case e: Exception => out.fail(s"pass $pass threw $e"); None
      }
    }

    // untimed warm-up pass, so the timed passes run compiled plans
    runPass(0, twin = false)
    Main.log("warm-up done")
    val gcBefore = Main.gcMs()
    val t0 = System.nanoTime()
    val deadline = ctx.deadlineFromNow
    var pass = 1
    while (pass == 1 || System.nanoTime() < deadline) {
      val twin = tr.enabled && pass % 2 == 1
      out.attempted.incrementAndGet()
      runPass(pass, twin) match {
        case Some(ms) => (if (twin) viaTrace else plain) += ms
        case None => out.failed.incrementAndGet()
      }
      pass += 1
    }
    val wall = (System.nanoTime() - t0) / 1e9
    Main.log("loop done")
    Main.latencyMetrics(out, "curate_pass", plain ++ viaTrace, "curate_docs_per_s",
      pages.length * (plain.size + viaTrace.size) / wall)
    Main.retainedHeap(out)
    if (tr.enabled) {
      out.layer("jvm.gc_ms") = Main.gcMs() - gcBefore
      val spans = tr.finish()
      Seq("jaccard_pairs", "clusters", "keepset", "substr_keepone", "url_latest").foreach { n =>
        out.layer(s"ops.${n}_s") = Main.median(spans.filter(_.name == s"ops.$n").map(_.ms / 1000))
      }
      val perPass = spans.groupBy(_.req).values.map(_.map(tr.own))
      out.layer("ops.shuffle_bytes") = Main.median(perPass.map(
        _.map(c => c.shuffleWrite.get + c.shuffleRead.get).sum.toDouble))
      out.layer("ops.spill_bytes") = Main.median(perPass.map(_.map(_.spill.get).sum.toDouble))
      out.layer("trace.overhead_ms") = Main.median(viaTrace) - Main.median(plain)
      out.layer("trace.spans") = spans.size
      tr.write(ctx.work.getParent.resolve("trace-curate.json"), spans)
    }
  }

  /** Every injected duplicate must be recovered by every operator. */
  def check(inj: Injected, pairs: Set[(Long, Long)], clusters: Map[Long, Long],
            keep: Set[Long], scrub: Map[Long, (Long, Long)],
            latest: Map[Long, Long]): Seq[String] = {
    val dups = inj.exactDups ++ inj.nearDups
    dups.filterNot(pairs).map(p => s"jaccardPairs missed $p") ++
      dups.filterNot { case (a, b) => clusters.get(a).exists(clusters.get(b).contains) }
        .map(p => s"duplicateClusters split $p") ++
      inj.exactDups.filter(p => keep(p._2)).map(p => s"nearDupKeepSet kept copy ${p._2}") ++
      inj.exactDups.filterNot(p => scrub.get(p._2).exists { case (n, d) => n > 0 && n == d })
        .map(p => s"scrubSpansKeepOne left text in copy ${p._2}") ++
      inj.refetches.filterNot(g => latest.get(g.last).contains(g.length.toLong))
        .map(g => s"urlKeepLatest missed the latest of $g")
  }
}
