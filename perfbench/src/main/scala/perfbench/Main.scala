package perfbench

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** What one run measured and whether its outputs were right. */
final class Outcome {
  @volatile var correct = true
  val attempted = new AtomicLong
  val failed = new AtomicLong
  val e2e = mutable.LinkedHashMap.empty[String, Double]
  val layer = mutable.LinkedHashMap.empty[String, Double]
  /** The workload's own end-to-end figures under their specific names
    * (`keystroke_p95_ms`, `curate_docs_per_s`, ...), with units; printed
    * on the info line, not gated.
    */
  val named = mutable.LinkedHashMap.empty[String, (Double, String)]
  val digest = java.security.MessageDigest.getInstance("SHA-256")

  def fail(why: String): Unit = {
    correct = false
    System.err.println(s"[perfbench] check failed: $why")
  }
  def addDigest(s: String): Unit =
    digest.synchronized(digest.update(s.getBytes(java.nio.charset.StandardCharsets.UTF_8)))
}

/** Shared run state handed to every workload. */
final case class Ctx(spark: SparkSession, gen: Gen, work: Path, seconds: Int,
                     tracer: Tracer, out: Outcome) {
  val clients: Int = math.min(4, Runtime.getRuntime.availableProcessors)
  def deadlineFromNow: Long = System.nanoTime() + seconds * 1000000000L
}

/** Benchmark entry point:
  * `perfbench.Main --workload <typing|search|curate> --seed <n>
  *  --seconds <s> --trace <0|1>`. Prints progress on stderr and, as the
  * last stdout line, one JSON object with `correct`, `attempted`,
  * `failed` and `metrics`: the end-to-end metrics untraced, the per-layer
  * metrics traced.
  */
object Main {

  /** End-to-end metrics, reported by every workload; what each means per
    * workload is listed in perfbench/METRICS.md.
    */
  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "latency_p50_ms" -> "ms", "throughput_per_s" -> "1/s",
    "retained_heap_mb" -> "MB")

  /** Per-layer metrics, reported by every traced run (0 where the
    * workload does not exercise the layer).
    */
  val PerLayer: Seq[(String, String)] = Seq(
    "core.doc_terms_s" -> "s",
    "index.build_s" -> "s", "index.build.shuffle_write_bytes" -> "bytes",
    "index.build.spill_bytes" -> "bytes", "index.docs_store_s" -> "s",
    "index.reader_open_ms" -> "ms", "index.bytes_per_text_byte" -> "ratio",
    "query.parse_us" -> "us", "query.local_hits_ms" -> "ms", "query.local_share" -> "ratio",
    "query.fetch_jobs_per_request" -> "count", "query.local_completions_ms" -> "ms",
    "query.dist_hits_ms" -> "ms", "query.dist_jobs_per_request" -> "count",
    "query.dist_tasks_per_request" -> "count", "query.dist_shuffle_bytes" -> "bytes",
    "query.zero_job_share" -> "ratio", "query.history_entries" -> "count",
    "query.history_bytes" -> "bytes", "query.excerpts_ms" -> "ms",
    "api.assemble_ms" -> "ms",
    "tools.http_overhead_ms" -> "ms", "tools.timeouts" -> "count",
    "ops.jaccard_pairs_s" -> "s", "ops.clusters_s" -> "s", "ops.keepset_s" -> "s",
    "ops.substr_keepone_s" -> "s", "ops.url_latest_s" -> "s",
    "ops.shuffle_bytes" -> "bytes", "ops.spill_bytes" -> "bytes",
    "search.gen_lateness_ms" -> "ms",
    "jvm.gc_ms" -> "ms",
    "trace.overhead_ms" -> "ms", "trace.spans" -> "count")

  val Workloads: Map[String, Ctx => Unit] = Map(
    "typing" -> Typing.run, "search" -> SearchLoad.run, "curate" -> Curate.run)

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k -> v }.toMap
    def need(k: String) = opts.getOrElse(k, usage(s"missing $k"))
    val workload = need("--workload")
    val body = Workloads.getOrElse(workload, usage(s"unknown workload $workload"))
    val seed = need("--seed").toLong
    val seconds = need("--seconds").toInt
    val trace = need("--trace") == "1"
    require(seconds > 0, "--seconds must be positive")

    val work = Paths.get(".bench_work", s"$workload-$seed").toAbsolutePath
    deleteTree(work)
    Files.createDirectories(work)
    val spark = session(work)
    log("spark session ready")
    val out = new Outcome
    val tracer = new Tracer(spark.sparkContext, trace)
    val gc0 = gcMs()
    val gen = new Gen(seed)
    try body(Ctx(spark, gen, work, seconds, tracer, out))
    catch {
      case e: Throwable =>
        // no result line: a run that could not finish has nothing to report
        e.printStackTrace()
        spark.stop()
        System.exit(1)
    }
    spark.stop()
    if (out.attempted.get == 0) out.fail("no operation was attempted")
    log(s"done: attempted ${out.attempted.get}, failed ${out.failed.get}")
    out.layer.getOrElseUpdate("jvm.gc_ms", gcMs() - gc0)
    val named = out.named.map { case (n, (v, u)) => s""""$n":{"value":$v,"unit":"$u"}""" }
    println(s"""{"workload":"$workload","seed":$seed,""" +
      s""""digest":"${out.digest.digest().map(b => f"$b%02x").mkString}",""" +
      s""""named":{${named.mkString(",")}},""" +
      s""""inputs":{${gen.sizes.map { case (n, v) => s""""$n":$v""" }.mkString(",")}}}""")
    println(resultJson(out, if (trace) PerLayer else EndToEnd,
      if (trace) out.layer else out.e2e))
    deleteTree(work)
    // the HTTP server's handler pool and Spark's helpers must not keep the
    // JVM alive once the result is printed
    System.exit(0)
  }

  private def usage(why: String): Nothing = {
    System.err.println(s"perfbench: $why\nusage: --workload " +
      s"${Workloads.keys.toSeq.sorted.mkString("|")} --seed N --seconds S --trace 0|1")
    sys.exit(2)
  }

  /** The Spark session every workload runs in; the settings are fixed so
    * both sides of a comparison run the same configuration.
    */
  def session(work: Path): SparkSession = {
    val cores = math.min(4, Runtime.getRuntime.availableProcessors)
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "127.0.0.1")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def resultJson(out: Outcome, names: Seq[(String, String)],
                 values: collection.Map[String, Double]): String = {
    val ms = names.map { case (n, u) =>
      val v = values.getOrElse(n, 0.0)
      s""""$n":{"value":${if (v.isNaN || v.isInfinite) 0.0 else v},"unit":"$u"}"""
    }
    s"""{"correct":${out.correct},"attempted":${math.max(1L, out.attempted.get)},""" +
      s""""failed":${out.failed.get},"metrics":{${ms.mkString(",")}}}"""
  }

  // ---- helpers shared by the workloads ------------------------------------

  private val started = System.nanoTime()

  /** Progress on stderr, with seconds since the JVM's run began. */
  def log(msg: String): Unit =
    System.err.println(f"[perfbench ${(System.nanoTime() - started) / 1e9}%6.1fs] $msg")

  def timed[A](f: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - t0) / 1e9)
  }

  /** Nearest-rank percentile of `xs` (0 for no samples). */
  def pct(xs: Iterable[Double], p: Double): Double = {
    val s = xs.toArray.sorted
    if (s.isEmpty) 0.0 else s(math.min(s.length - 1, math.max(0, math.ceil(p * s.length).toInt - 1)))
  }
  def median(xs: Iterable[Double]): Double = pct(xs, 0.5)
  def mean(xs: Iterable[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size

  def gcMs(): Double = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime.max(0L)).sum.toDouble
  }

  /** Heap in use after a full collection, in MB. */
  def retainedHeap(out: Outcome): Unit = {
    // the second collection also frees what Spark's cleaner released
    // after the first
    System.gc(); Thread.sleep(300); System.gc()
    val mb =
      java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
    out.e2e("retained_heap_mb") = mb
    out.named("retained_heap_mb") = (mb, "MB")
  }

  def dirBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum()
      finally s.close()
    }

  def deleteTree(p: Path): Unit =
    org.apache.commons.io.FileUtils.deleteQuietly(p.toFile)

  /** Records a run's latency and throughput, gated and under the
    * workload's own names: `<what>_p50_ms`, `<what>_p95_ms` (with the
    * sample count, so a reader can tell how many samples lie beyond it)
    * and the rate under `rateName`.
    */
  def latencyMetrics(out: Outcome, what: String, latMs: Iterable[Double],
                     rateName: String, rate: Double): Unit = {
    out.e2e("latency_p50_ms") = median(latMs)
    out.e2e("throughput_per_s") = rate
    out.named(s"${what}_p50_ms") = (median(latMs), "ms")
    out.named(s"${what}_p95_ms") = (pct(latMs, 0.95), "ms")
    out.named(s"${what}_samples") = (latMs.size.toDouble, "count")
    out.named(rateName) = (rate, "1/s")
  }

  /** Median of the per-repetition set-up times. */
  def setupMetric(out: Outcome, times: Seq[Double]): Unit = {
    out.e2e("setup_s") = median(times)
    out.named("setup_s") = (median(times), "s")
    log(s"set-up times ${times.map(t => f"$t%.2f").mkString(" ")} s")
  }
}
