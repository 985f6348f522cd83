package graft.index

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.Group
import org.apache.parquet.hadoop.ParquetReader
import org.apache.parquet.hadoop.api.{InitContext, ReadSupport}
import org.apache.parquet.hadoop.example.GroupReadSupport
import org.apache.parquet.schema.MessageType

/** One encoded posting-block segment of a term's list, as the blocks store
  * holds it (`positions` is null on a positions-off index).
  */
final case class Segment(termId: Long, nDocs: Int, docDeltas: Array[Byte],
                         tfs: Array[Byte], dls: Array[Byte], positions: Array[Byte])

/** Immutable driver-RAM serving image of an index that fits the driver
  * budgets -- the reference answers every query from RAM: a sorted
  * vocabulary with a binary-search findWord (Vocabulary.h:17-50), a block
  * offset table over the HYB blocks (HYBIndex.h:10-62) and a docs DB whose
  * offset array is binary-searched by doc id (DocsDB.h:9-56). Built once
  * per (index dir, epoch) off the request path ([[IndexReader.image]]);
  * until it is published, and for any store past its budget, the per-atom
  * and per-miss fetches serve as before.
  *
  * @param vocabulary every dictionary term, sorted
  * @param postings   every visible block's encoded segments, when the
  *                   index's postings fit [[IndexReader.LocalListBudgetPostings]]
  * @param docs       the docs store, when it exists and fits
  *                   [[IndexReader.DocsCacheBudgetChars]]
  */
final class ServingImage(val vocabulary: ServingImage.Vocabulary,
                         val postings: Option[ServingImage.Postings],
                         val docs: Option[ServingImage.Docs])

object ServingImage {

  /** Compares in code point order, which is UTF-8 byte order and so Spark's
    * string order (term ids are dense ranks in that order).
    * `String.compareTo` compares UTF-16 units instead and sorts
    * supplementary-plane letters before U+E000..U+FFFF. At the first
    * differing unit, surrogates are moved above and U+E000..U+FFFF below
    * them, as in ICU's `compareCodePointOrder`.
    */
  def compareCodePoints(a: String, b: String): Int = {
    val n = math.min(a.length, b.length)
    var i = 0
    while (i < n) {
      val c1 = a.charAt(i)
      val c2 = b.charAt(i)
      if (c1 != c2) return rotate(c1) - rotate(c2)
      i += 1
    }
    a.length - b.length
  }

  private def rotate(c: Char): Int =
    if (c < 0xD800) c else if (c >= 0xE000) c - 0x800 else c + 0x2000

  /** The dictionary as parallel arrays sorted by term, which is also
    * term_id order (checked at load).
    */
  final class Vocabulary(val terms: Array[String], val termIds: Array[Long],
                         val dfs: Array[Long]) {
    def size: Int = terms.length

    /** First index whose term is >= `s`. */
    def lowerBound(s: String): Int = firstNot(t => compareCodePoints(t, s) < 0)

    /** First index whose term is > `s`. */
    def upperBound(s: String): Int = firstNot(t => compareCodePoints(t, s) <= 0)

    /** End of the run of terms starting with `p`; the run begins at
      * `lowerBound(p)`.
      */
    def prefixEnd(p: String): Int =
      firstNot(t => t.startsWith(p) || compareCodePoints(t, p) < 0)

    /** First index where `before` is false; `before` holds on a prefix. */
    private def firstNot(before: String => Boolean): Int = {
      var lo = 0
      var hi = terms.length
      while (lo < hi) {
        val m = (lo + hi) >>> 1
        if (before(terms(m))) lo = m + 1 else hi = m
      }
      lo
    }

    /** Index of `term`, or -1. */
    def indexOf(term: String): Int = {
      val i = lowerBound(term)
      if (i < terms.length && terms(i) == term) i else -1
    }

    /** Index of a term id, or -1. */
    def indexOfId(id: Long): Int = {
      val i = java.util.Arrays.binarySearch(termIds, id)
      if (i >= 0) i else -1
    }

    /** term -> (term_id, df). */
    def termInfo(term: String): Option[(Long, Long)] = {
      val i = indexOf(term)
      if (i < 0) None else Some((termIds(i), dfs(i)))
    }

    /** The term-id range of the terms starting with `prefix`. */
    def prefixRange(prefix: String): Option[(Long, Long)] = {
      val from = lowerBound(prefix)
      val until = prefixEnd(prefix)
      if (from >= until) None else Some((termIds(from), termIds(until - 1)))
    }

    /** (term_id, term, df) of the indexes in [from, until). */
    def rows(from: Int, until: Int): Array[(Long, String, Long)] =
      Array.tabulate(until - from)(j => (termIds(from + j), terms(from + j), dfs(from + j)))

    /** (term_id, term, df) of the term ids in [lo, hi], in id order. */
    def idRows(lo: Long, hi: Long): Array[(Long, String, Long)] = {
      def idLowerBound(id: Long): Int = {
        val i = java.util.Arrays.binarySearch(termIds, id)
        if (i >= 0) i else -i - 1
      }
      val from = idLowerBound(lo)
      rows(from, math.max(from, idLowerBound(hi + 1)))
    }
  }

  /** Encoded segments of every visible block in (term_id, first_doc_id)
    * order, their bytes in one pool. Vocabulary entry `i` owns segments
    * `segStart(i) until segStart(i + 1)`; segment `s`'s column `c` (doc
    * deltas, tfs, dls, positions) is `pool(offsets(s * nCols + c) until
    * offsets(s * nCols + c + 1))`.
    */
  final class Postings(segStart: Array[Int], termIdOf: Array[Long], nDocs: Array[Int],
                       offsets: Array[Int], pool: Array[Byte], withPositions: Boolean) {
    private val nCols = if (withPositions) 4 else 3

    /** Vocabulary entry `i`'s segments in first_doc_id order. */
    def segments(i: Int): IndexedSeq[Segment] =
      (segStart(i) until segStart(i + 1)).map { s =>
        def col(c: Int): Array[Byte] = java.util.Arrays.copyOfRange(pool,
          offsets(s * nCols + c), offsets(s * nCols + c + 1))
        Segment(termIdOf(s), nDocs(s), col(0), col(1), col(2),
          if (withPositions) col(3) else null)
      }
  }

  /** The docs store as parallel arrays sorted by doc id. */
  final class Docs(docIds: Array[Long], urls: Array[String], texts: Array[String]) {
    def size: Int = docIds.length

    /** (url, text) of a doc id, or null when the store does not hold it. */
    def get(id: Long): (String, String) = {
      val i = java.util.Arrays.binarySearch(docIds, id)
      if (i < 0) null else (urls(i), texts(i))
    }
  }

  /** Vocabulary budget in terms: what the slice memo may hold at most. */
  val MaxTerms: Long = IndexReader.MaxSliceTerms * IndexReader.MaxSlicePrefixes

  /** Reads the stores on the driver with parquet-mr, so loading runs no
    * Spark job and caches no relation. Each store is read in one pass that
    * stops as soon as its running size passes the budget: loading an index
    * past a budget costs at most a budget's worth of reading.
    *
    * @param blockDirs the visible shard dirs (or the blocks root of an
    *                  unsharded index)
    * @return None when the vocabulary does not fit or is not in term_id
    *         order; otherwise the image with each store that fits
    */
  private[index] def load(conf: Configuration, dir: String, blockDirs: Seq[String],
                          vocabSize: Long, withPositions: Boolean,
                          withDocs: Boolean): Option[ServingImage] = {
    if (vocabSize > MaxTerms) return None
    loadVocabulary(conf, s"$dir/dictionary").map { v =>
      new ServingImage(v, loadPostings(conf, blockDirs, v, withPositions),
        if (withDocs) loadDocs(conf, s"$dir/docs") else None)
    }
  }

  private def loadVocabulary(conf: Configuration, path: String): Option[Vocabulary] = {
    val terms = ArrayBuffer.empty[String]
    val ids = ArrayBuffer.empty[Long]
    val dfs = ArrayBuffer.empty[Long]
    val complete = readRows(conf, dataFiles(conf, Seq(path)), Seq("term", "term_id", "df")) { g =>
      terms += g.getString(0, 0)
      ids += g.getLong(1, 0)
      dfs += g.getLong(2, 0)
      terms.length <= MaxTerms
    }
    if (!complete) return None
    val order = ids.indices.sortBy(ids(_)).toArray
    val v = new Vocabulary(order.map(terms), order.map(ids), order.map(dfs))
    // binary searches by term are valid only if id order is term order
    val monotone = (1 until v.size).forall(i =>
      v.termIds(i - 1) < v.termIds(i) &&
        compareCodePoints(v.terms(i - 1), v.terms(i)) < 0)
    if (monotone) Some(v) else None
  }

  private def loadPostings(conf: Configuration, blockDirs: Seq[String], v: Vocabulary,
                           withPositions: Boolean): Option[Postings] = {
    val cols = Seq("doc_deltas", "tfs", "dls") ++ (if (withPositions) Seq("positions") else Nil)
    val termIds = ArrayBuffer.empty[Long]
    val firstDocs = ArrayBuffer.empty[Long]
    val nDocs = ArrayBuffer.empty[Int]
    val offsets = ArrayBuffer(0)
    val pool = new java.io.ByteArrayOutputStream()
    var postings = 0L
    val complete = readRows(conf, dataFiles(conf, blockDirs),
        Seq("term_id", "first_doc_id", "n_docs") ++ cols) { g =>
      termIds += g.getLong(0, 0)
      firstDocs += g.getLong(1, 0)
      nDocs += g.getInteger(2, 0)
      cols.indices.foreach { c =>
        val b = g.getBinary(3 + c, 0)
        b.writeTo(pool)
        offsets += offsets.last + b.length
      }
      postings += nDocs.last
      postings <= IndexReader.LocalListBudgetPostings
    }
    if (!complete) return None
    val order = termIds.indices.toArray.sortWith((a, b) =>
      termIds(a) < termIds(b) || (termIds(a) == termIds(b) && firstDocs(a) < firstDocs(b)))
    val nCols = cols.length
    val sortedOffsets = new Array[Int](order.length * nCols + 1)
    val bytes = pool.toByteArray
    val sortedPool = new Array[Byte](bytes.length)
    var at = 0
    order.indices.foreach { s =>
      val raw = order(s)
      (0 until nCols).foreach { c =>
        val from = offsets(raw * nCols + c)
        val len = offsets(raw * nCols + c + 1) - from
        System.arraycopy(bytes, from, sortedPool, at, len)
        sortedOffsets(s * nCols + c) = at
        at += len
      }
    }
    sortedOffsets(order.length * nCols) = at
    // segments per vocabulary entry, then their prefix sums
    val segStart = new Array[Int](v.size + 1)
    order.foreach { raw =>
      val i = v.indexOfId(termIds(raw))
      if (i < 0) throw new IllegalStateException(
        s"blocks hold term id ${termIds(raw)}, which the dictionary lacks")
      segStart(i + 1) += 1
    }
    (0 until v.size).foreach(i => segStart(i + 1) += segStart(i))
    Some(new Postings(segStart, order.map(termIds), order.map(nDocs), sortedOffsets,
      sortedPool, withPositions))
  }

  private def loadDocs(conf: Configuration, path: String): Option[Docs] = {
    val ids = ArrayBuffer.empty[Long]
    val urls = ArrayBuffer.empty[String]
    val texts = ArrayBuffer.empty[String]
    var chars = 0L
    def str(g: Group, f: Int): String =
      if (g.getFieldRepetitionCount(f) == 0) null else g.getString(f, 0)
    val complete = readRows(conf, dataFiles(conf, Seq(path)), Seq("doc_id", "url", "text")) { g =>
      ids += g.getLong(0, 0)
      urls += str(g, 1)
      texts += str(g, 2)
      chars += Option(urls.last).fold(0)(_.length) + Option(texts.last).fold(0)(_.length)
      chars <= IndexReader.DocsCacheBudgetChars
    }
    if (!complete) None
    else {
      val order = ids.indices.sortBy(ids(_)).toArray
      Some(new Docs(order.map(ids), order.map(urls), order.map(texts)))
    }
  }

  /** Data files under `roots`, by Spark's listing rule: names starting with
    * `.`, or with `_` outside a `col=value` partition dir, are hidden.
    */
  private def dataFiles(conf: Configuration, roots: Seq[String]): Seq[Path] = {
    def walk(p: Path): Seq[Path] = {
      val fs = p.getFileSystem(conf)
      fs.listStatus(p).toSeq.sortBy(_.getPath.getName).flatMap { st =>
        val n = st.getPath.getName
        if (n.startsWith(".") || (n.startsWith("_") && !n.contains("="))) Nil
        else if (st.isDirectory) walk(st.getPath)
        else Seq(st.getPath)
      }
    }
    roots.flatMap(r => walk(new Path(r)))
  }

  /** Projects each file to `columns`, in that order, so field `j` of a row
    * is `columns(j)`.
    */
  private final class Projection(columns: Seq[String]) extends GroupReadSupport {
    override def init(context: InitContext): ReadSupport.ReadContext = {
      val s = context.getFileSchema
      new ReadSupport.ReadContext(
        new MessageType(s.getName, columns.map(c => s.getType(s.getFieldIndex(c))).asJava))
    }
  }

  /** Feeds every row of `files` to `f` until it returns false.
    * @return whether every row was read
    */
  private def readRows(conf: Configuration, files: Seq[Path], columns: Seq[String])(
      f: Group => Boolean): Boolean =
    files.forall { file =>
      val reader = ParquetReader.builder(new Projection(columns), file).withConf(conf).build()
      try {
        var more = true
        var g = reader.read()
        while (more && g != null) {
          more = f(g)
          if (more) g = reader.read()
        }
        more
      } finally reader.close()
    }
}
