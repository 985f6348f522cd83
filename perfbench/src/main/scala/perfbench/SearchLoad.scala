package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue, Executors, TimeUnit}
import java.util.concurrent.locks.LockSupport

import scala.jdk.CollectionConverters._

import graft.api.Search
import graft.query.QueryHistory

/** `search`: an open loop at [[RatePerS]] requests per second into
  * `Search.searchIndex`, `min(4, nproc)` worker threads. Each distinct
  * full-word grammar query is sent once, so the result history never
  * answers; latency counts from each request's due time, so a stall also
  * delays the requests queued behind it. HTTP and the distributed plans
  * of typing's head prefixes are bypassed.
  *
  * The index and docs store are built once, untimed. Set-up (repeated
  * [[SetupReps]] times, each on its own copy of the index): open a
  * reader and load its dictionary, as a search server does on start. An
  * untimed warm-up then sends [[WarmQueries]] other queries. The traced run
  * alternates `Search.searchIndex` and its traced twin over the same
  * stream.
  */
object SearchLoad {
  val SetupReps = 3
  /** About half the one-client capacity of the engine at the commit that
    * introduced this benchmark (about 5 requests/s warm, 4 cores).
    */
  val RatePerS = 2.5
  val CheckQueries = 3
  /** Eight per grammar shape of [[Gen.searchQueries]]. */
  val WarmQueries = 48
  val DrainSeconds = 60L

  def run(ctx: Ctx): Unit = {
    val spark = ctx.spark
    val out = ctx.out
    val corpus = ctx.work.resolve("corpus")
    Serving.writeCorpus(spark, ctx.gen.base, corpus)
    Main.log("corpus written")
    // the index is built once; each set-up opens a reader on its own copy,
    // so no repetition finds another's dictionary cached
    val built = ctx.work.resolve("index")
    val buildSeconds = Serving.buildIndex(ctx, corpus, built)
    Serving.indexMetrics(ctx, corpus, built, Seq(buildSeconds))
    val setups = (0 until SetupReps).map { i =>
      val dir = ctx.work.resolve(s"index-$i")
      org.apache.commons.io.FileUtils.copyDirectory(built.toFile, dir.toFile)
      Main.timed(Serving.openReader(ctx, dir))
    }
    Main.setupMetric(out, setups.map(_._2))
    val reader = setups.last._1
    // untimed warm-up by all workers, so the serving path is compiled
    // before the timed loop; the timed stream starts after these queries,
    // so no query is sent twice
    val (warm, queries) = ctx.gen.searchQueries.splitAt(WarmQueries)
    val warmPool = Executors.newFixedThreadPool(ctx.clients)
    warm.foreach(q => warmPool.submit(new Runnable {
      def run(): Unit =
        try Search.searchIndex(reader, q)
        catch { case e: Exception => out.fail(s"warm-up search '$q': $e") }
    }))
    warmPool.shutdown()
    warmPool.awaitTermination(DrainSeconds, TimeUnit.SECONDS)
    Main.log("warm-up done")
    val sample = queries.take(CheckQueries).toSet
    val served = new ConcurrentHashMap[String, Seq[(Long, Double)]]()
    val traced = ctx.tracer.enabled
    val plain = new ConcurrentLinkedQueue[Double]()
    val viaTrace = new ConcurrentLinkedQueue[Double]()
    val lateness = new ConcurrentLinkedQueue[Double]()
    val pool = Executors.newFixedThreadPool(ctx.clients)
    val gcBefore = Main.gcMs()
    val start = System.nanoTime() + 20000000L
    val deadline = start + ctx.seconds * 1000000000L
    val period = (1e9 / RatePerS).toLong
    var i = 0
    var due = start
    while (due < deadline && i < queries.length) {
      val wait = due - System.nanoTime()
      if (wait > 0) LockSupport.parkNanos(wait)
      lateness.add((System.nanoTime() - due) / 1e6)
      val q = queries(i)
      val twin = traced && i % 2 == 1
      val dueAt = due
      out.attempted.incrementAndGet()
      pool.submit(new Runnable {
        def run(): Unit =
          try {
            val r = Serving.search(ctx.tracer, twin, reader, q, None)
            (if (twin) viaTrace else plain).add((System.nanoTime() - dueAt) / 1e6)
            if (sample(q)) served.put(q, r.hits.map(h => (h.id, h.score)))
          } catch {
            case e: Throwable =>
              out.failed.incrementAndGet()
              System.err.println(s"[perfbench] search '$q' failed: $e")
          }
      })
      i += 1
      due = start + i * period
    }
    pool.shutdown()
    if (!pool.awaitTermination(DrainSeconds, TimeUnit.SECONDS)) {
      val dropped = pool.shutdownNow().size
      out.failed.addAndGet(dropped)
      out.fail(s"$dropped requests still queued ${DrainSeconds}s after the loop ended")
      pool.awaitTermination(DrainSeconds, TimeUnit.SECONDS)
    }
    val wall = (System.nanoTime() - start) / 1e9
    Main.log("loop done")
    val all = plain.asScala ++ viaTrace.asScala
    Main.latencyMetrics(out, "search", all, "searches_per_s", all.size / wall)
    Main.retainedHeap(out)
    if (traced) {
      out.layer("jvm.gc_ms") = Main.gcMs() - gcBefore
      val spans = ctx.tracer.finish()
      Serving.buildLayers(ctx, spans)
      Serving.queryLayers(ctx, spans, QueryHistory.default)
      out.layer("search.gen_lateness_ms") = Main.median(lateness.asScala)
      out.layer("trace.overhead_ms") = Main.median(viaTrace.asScala) - Main.median(plain.asScala)
      ctx.tracer.write(ctx.work.getParent.resolve("trace-search.json"), spans)
    }
    Serving.checkSample(ctx, reader, queries.take(CheckQueries), served.asScala)
  }
}
