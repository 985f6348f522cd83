package graft

import graft.api.Search
import graft.query.{LocalServe, QueryParams}
import org.scalatest.funsuite.AnyFunSuite

/** `Search.searchIndex` builds its answer from driver pages; it must equal
  * the DataFrame assembly it replaced ([[ServeFixture.reference]]) in
  * hits, scores, excerpts, urls and completions, on every serving path.
  */
class SearchParitySpec extends AnyFunSuite {
  import ServeFixture._

  // LocalServeSpec's grammar shapes, plus prefix-final ones that ask for
  // completions
  private val shapes = Seq(
    "aachen", "aachen aargau", "aachen -aargau", "aargau|babylonisch",
    "ba*", "aal--aargau", "aal.aalglatt", "aal..aalglatt", "aachen=aachen",
    "aachan~", "merge^", "babbeln.baby.babyboom", "aachen.,,.aal",
    "aal -zebra aachen", "aachen -nosuchword", "nosuchword",
    "aal aalglatt.aargau", "aachen aa*", "aal -zebra aa*")

  private def same(r: graft.index.IndexReader, q: String, k: Int = 10,
                   p: QueryParams = QueryParams.Default): Unit = {
    val got = Search.searchIndex(r, q, k, params = p)
    assert(got === reference(r, q, k, p = p), s"query: $q k: $k params: $p")
  }

  test("every grammar shape: locally served search equals the reference assembly") {
    shapes.foreach { q =>
      assert(LocalServe.hitsPage(reader, q, 10, QueryParams.Default).isDefined,
        s"expected the local path to serve: $q")
      same(reader, q)
    }
    // the comparison covers excerpts, urls and completions, not only ids
    val r = Search.searchIndex(reader, "aachen aa*")
    assert(r.hits.nonEmpty && r.hits.forall(h =>
      h.url.startsWith("http://u/") && h.excerpt.contains("<hl>")))
    assert(r.completions.nonEmpty)
  }

  test("f= paging, k = 0 and knobs equal the reference") {
    for (p <- Seq(QueryParams(firstHit = 2), QueryParams(firstHit = 3, rankDocs = "doc"),
        QueryParams(excerptsPerHit = 1), QueryParams(rankWords = "dc"),
        QueryParams(firstHit = 10000)))
      same(reader, "aal aa*", p = p)
    same(reader, "aachen aal", k = 0)
    same(reader, "aa*", k = 0, p = QueryParams(firstHit = 2))
  }

  test("trailing join block: local hits, completions left to the distributed path") {
    val q = "aal [aa*#aal*]"
    assert(LocalServe.hitsPage(reader, q, 10, QueryParams.Default).isDefined)
    assert(LocalServe.completionsPage(reader, q, 10, QueryParams.Default).isEmpty)
    same(reader, q)
    same(reader, "[aachen aa*#merge aa*]")
  }

  test("over-budget prefix falls back to the distributed plans with equal results") {
    assert(LocalServe.hitsPage(wideReader, "w*", 10, QueryParams.Default).isEmpty,
      "precondition: w* must take the distributed fallback")
    same(wideReader, "w*")
    same(wideReader, "aachen w*")
    val r = Search.searchIndex(wideReader, "w*")
    assert(r.hits.nonEmpty && r.hits.forall(_.excerpt.contains("<hl>")))
    assert(r.completions.nonEmpty)
    // fuzzy best-match resolution is the other documented fallback
    same(reader, "aal aachan~", p = QueryParams(bestMatchBonus = 2.0))
  }

  test("SPARK_GRAFT_NO_LOCAL_SERVE kill switch keeps the distributed assembly") {
    withoutLocalServe {
      assert(LocalServe.hitsPage(reader, "aachen aa*", 10, QueryParams.Default).isEmpty)
      assert(LocalServe.excerptsOf(reader, Seq(1L), Seq("aal"), Nil, 2, 3).isEmpty)
      Seq("aachen aa*", "aal.aalglatt", "ba*").foreach(same(reader, _))
      same(reader, "aal aa*", p = QueryParams(firstHit = 2))
    }
  }

  test("an index without a docs store answers hits without excerpts or urls") {
    assert(!noDocsReader.hasDocsStore)
    Seq("aachen aa*", "aal.aalglatt", "ba*").foreach(same(noDocsReader, _))
    val r = Search.searchIndex(noDocsReader, "aachen aa*")
    assert(r.hits.nonEmpty && r.hits.forall(h => h.excerpt.isEmpty && h.url.isEmpty))
  }
}
