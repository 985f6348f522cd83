package perfbench

import java.net.{HttpURLConnection, URLEncoder}
import java.nio.charset.StandardCharsets.UTF_8
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import graft.query.IndexQueryCache
import graft.tools.CompletionServer

/** `typing`: closed-loop autocomplete sessions, `min(4, nproc)` clients,
  * over loopback HTTP through `CompletionServer`. Each session types one
  * of the popular queries of [[Gen.typingPool]] one character at a time;
  * every keystroke asks for hits, completions and excerpts of the prefix
  * query typed so far. An untimed warm-up types every pool query once, so
  * the timed loop measures the serving caches the working set fits in.
  *
  * Set-up (repeated [[SetupReps]] times): build the index and docs store,
  * start the server. The traced run issues the same sessions in-process,
  * alternating `Search.searchIndex` and its traced twin, and afterwards
  * times warm requests over HTTP and in-process to isolate the HTTP front.
  */
object Typing {
  val SetupReps = 3
  val HttpSample = 8
  val WarmTries = 3

  def keystrokes(q: String): Seq[String] =
    (1 to q.length).filter(i => q.charAt(i - 1) != ' ').map(i => q.take(i) + "*")

  private def get(port: Int, q: String): (Int, String) = {
    val c = java.net.URI.create(
      s"http://127.0.0.1:$port/?q=${URLEncoder.encode(q, UTF_8)}").toURL
      .openConnection().asInstanceOf[HttpURLConnection]
    c.setConnectTimeout(10000)
    c.setReadTimeout(60000)
    val code = c.getResponseCode
    val in = if (code < 400) c.getInputStream else c.getErrorStream
    try (code, if (in == null) "" else new String(in.readAllBytes(), UTF_8))
    finally if (in != null) in.close()
  }

  private val HitRe = """\{"id":(\d+),"score":([^,]+),""".r
  def hitsOf(json: String): Seq[(Long, Double)] =
    HitRe.findAllMatchIn(json).map(m => (m.group(1).toLong, m.group(2).toDouble)).toSeq

  def run(ctx: Ctx): Unit = {
    val spark = ctx.spark
    val out = ctx.out
    val corpus = ctx.work.resolve("corpus")
    Serving.writeCorpus(spark, ctx.gen.base, corpus)
    Main.log("corpus written")
    val cache = new IndexQueryCache()
    var server: com.sun.net.httpserver.HttpServer = null
    val setups = (0 until SetupReps).map { i =>
      if (server != null) server.stop(0)
      val dir = ctx.work.resolve(s"index-$i")
      (dir, Main.timed {
        val build = Serving.buildIndex(ctx, corpus, dir)
        server = CompletionServer.start(spark, dir.toString, 0, cache = cache)
        build
      })
    }
    Main.setupMetric(out, setups.map(_._2._2))
    Serving.indexMetrics(ctx, corpus, setups.last._1, setups.map(_._2._1))
    val port = server.getAddress.getPort
    // the benchmark's own reader, for the traced run and the checks; the
    // server opens its own
    val reader = Serving.openReader(ctx, setups.last._1)
    try {
      val sessions = ctx.gen.typingSessions
      val pool = ctx.gen.typingPool
      // checked keystrokes: the one-letter prefix that takes the
      // distributed plans, and the whole of the two most popular queries
      val sample = (keystrokes(pool(0)).head +: pool.take(2).map(keystrokes(_).last)).distinct
      val sampleSet = sample.toSet
      val served = new ConcurrentHashMap[String, Seq[(Long, Double)]]()
      val traced = ctx.tracer.enabled
      // one keystroke: over HTTP, or in-process when traced
      def issue(q: String, twin: Boolean): Seq[(Long, Double)] =
        if (traced) Serving.search(ctx.tracer, twin, reader, q, Some(cache)).hits
          .map(h => (h.id, h.score))
        else {
          val (code, body) = get(port, q)
          if (code != 200) throw new IllegalStateException(s"HTTP $code: $body")
          hitsOf(body)
        }
      val plain = new java.util.concurrent.ConcurrentLinkedQueue[Double]()
      val viaTrace = new java.util.concurrent.ConcurrentLinkedQueue[Double]()
      // untimed warm-up: every pool query typed once, by all clients. It
      // only fills the caches, so a keystroke the server timed out (the
      // cold distributed one can, on a slow host) is tried again; the
      // timed loop counts every failure
      def warmUp(q: String, tries: Int): Unit =
        try issue(q, twin = false)
        catch {
          case _: Throwable if tries > 1 => warmUp(q, tries - 1)
          case e: Throwable => out.fail(s"warm-up keystroke '$q': $e")
        }
      val nextWarm = new AtomicInteger
      val warm = (0 until ctx.clients).map { _ =>
        new Thread(() => {
          var i = nextWarm.getAndIncrement()
          while (i < pool.length) {
            keystrokes(pool(i)).foreach(warmUp(_, WarmTries))
            i = nextWarm.getAndIncrement()
          }
        }, "typing-warmup")
      }
      warm.foreach(_.start())
      warm.foreach(_.join())
      Main.log("warm-up done")
      val next = new AtomicInteger
      val gcBefore = Main.gcMs()
      val t0 = System.nanoTime()
      val deadline = ctx.deadlineFromNow
      val threads = (0 until ctx.clients).map { _ =>
        new Thread(() => {
          while (System.nanoTime() < deadline) {
            val s = next.getAndIncrement()
            val twin = traced && s % 2 == 1
            val it = keystrokes(sessions(s % sessions.length)).iterator
            while (it.hasNext && System.nanoTime() < deadline) {
              val q = it.next()
              out.attempted.incrementAndGet()
              val a = System.nanoTime()
              try {
                val hits = issue(q, twin)
                val ms = (System.nanoTime() - a) / 1e6
                (if (twin) viaTrace else plain).add(ms)
                if (sampleSet(q)) served.putIfAbsent(q, hits)
              } catch {
                case e: Throwable =>
                  out.failed.incrementAndGet()
                  System.err.println(s"[perfbench] keystroke '$q' failed: $e")
              }
            }
          }
        }, s"typing-client")
      }
      threads.foreach(_.start())
      threads.foreach(_.join())
      val wall = (System.nanoTime() - t0) / 1e9
      Main.log("loop done")
      val all = plain.asScala ++ viaTrace.asScala
      Main.latencyMetrics(out, "keystroke", all, "keystrokes_per_s", all.size / wall)
      Main.retainedHeap(out)
      if (traced) {
        ctx.out.layer("jvm.gc_ms") = Main.gcMs() - gcBefore
        val spans = ctx.tracer.finish()
        Serving.buildLayers(ctx, spans)
        Serving.queryLayers(ctx, spans, cache)
        ctx.out.layer("trace.overhead_ms") =
          Main.median(viaTrace.asScala) - Main.median(plain.asScala)
        httpOverhead(ctx, port, reader, cache, pool)
        ctx.tracer.write(ctx.work.getParent.resolve("trace-typing.json"), spans)
      }
      Serving.checkSample(ctx, reader, sample, served.asScala)
    } finally server.stop(0)
  }

  /** Warm requests timed over HTTP and in-process, interleaved: the median
    * difference is the HTTP front's cost; 503 answers are timeouts.
    */
  private def httpOverhead(ctx: Ctx, port: Int, reader: graft.index.IndexReader,
                           cache: IndexQueryCache, pool: IndexedSeq[String]): Unit = {
    val qs = pool.flatMap(keystrokes).distinct.take(HttpSample)
    var timeouts = 0
    val pairs = qs.map { q =>
      get(port, q) // warms the server's own reader for this query
      val a = System.nanoTime()
      val (code, _) = get(port, q)
      val http = (System.nanoTime() - a) / 1e6
      if (code == 503) timeouts += 1
      val b = System.nanoTime()
      graft.api.Search.searchIndex(reader, q, cache = Some(cache))
      (http, (System.nanoTime() - b) / 1e6)
    }
    ctx.out.layer("tools.http_overhead_ms") = Main.median(pairs.map(_._1)) - Main.median(pairs.map(_._2))
    ctx.out.layer("tools.timeouts") = timeouts
  }
}
