package graft

import java.nio.charset.StandardCharsets.UTF_8

import graft.api.Search
import graft.query.{LocalServe, QueryParams}
import graft.tools.CompletionServer
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.funsuite.AnyFunSuite

/** A warm keystroke does no Spark work at all -- no Dataset action, no
  * job -- and the HTTP front adds no delayed-ACK stall on top of it.
  */
class WarmServingSpec extends AnyFunSuite {
  import ServeFixture._

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

  test("a warm locally served searchIndex runs zero Dataset actions and zero jobs") {
    val q = "aachen aa*"
    val cold = Search.searchIndex(reader, q, 5) // fills the atom, page and docs LRUs
    assert(cold.hits.nonEmpty && cold.completions.nonEmpty &&
      cold.hits.forall(h => h.url.nonEmpty && h.excerpt.contains("<hl>")))
    // the listeners do see a Dataset action on a driver-resident relation
    assert(work(LocalServe.hits(reader, q, 5, QueryParams.Default).get.collect())._1 > 0)
    var warm: graft.api.SearchResult = null
    assert(work { warm = Search.searchIndex(reader, q, 5) } === ((0, 0)))
    assert(warm === cold)
    // a warm atom set with a new page (no history entry) is array work too
    assert(work(Search.searchIndex(reader, q, 3)) === ((0, 0)))
  }

  test("CompletionServer.start turns TCP_NODELAY on for the JDK HTTP server") {
    val server = CompletionServer.start(spark, reader.dir, port = 0)
    try assert(System.getProperty("sun.net.httpserver.nodelay") === "true")
    finally server.stop(0)
  }

  test("warm keep-alive keystrokes over one connection stay under the delayed-ACK floor") {
    val server = CompletionServer.start(spark, reader.dir, port = 0)
    val sock = new java.net.Socket("127.0.0.1", server.getAddress.getPort)
    try {
      sock.setTcpNoDelay(true)
      sock.setSoTimeout(30000)
      val out = sock.getOutputStream
      val in = new java.io.BufferedInputStream(sock.getInputStream)
      def line(): String = {
        val b = new java.io.ByteArrayOutputStream()
        var c = in.read()
        while (c != '\n') {
          if (c < 0) throw new java.io.EOFException("connection closed")
          if (c != '\r') b.write(c)
          c = in.read()
        }
        b.toString(UTF_8)
      }
      // one request and its whole response, on the same connection
      def get(q: String): String = {
        out.write((s"GET /?q=${java.net.URLEncoder.encode(q, UTF_8)} HTTP/1.1\r\n" +
          "Host: 127.0.0.1\r\n\r\n").getBytes(UTF_8))
        out.flush()
        val status = line()
        assert(status.startsWith("HTTP/1.1 200"), status)
        var len = -1
        var h = line()
        while (h.nonEmpty) {
          if (h.toLowerCase.startsWith("content-length:")) len = h.drop(15).trim.toInt
          h = line()
        }
        assert(len > 0)
        new String(in.readNBytes(len), UTF_8)
      }
      val q = "aachen aa*"
      val expected = Search.searchIndex(reader, q).toJson
      assert(get(q) === expected) // warms the server's own reader
      val ms = (1 to 15).map { _ =>
        val t0 = System.nanoTime()
        assert(get(q) === expected)
        (System.nanoTime() - t0) / 1e6
      }.sorted
      assert(ms(7) < 40.0, s"median ${ms(7)} ms, all: ${ms.mkString(", ")}")
    } finally {
      sock.close()
      server.stop(0)
    }
  }
}
