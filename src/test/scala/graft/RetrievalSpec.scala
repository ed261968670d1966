package graft

import org.apache.spark.sql.functions._
import graft.ops.Retrieval

/** Hybrid retrieval: per-query BM25 ranking against a query-term table and
  * reciprocal-rank fusion of ranked lists.
  */
class RetrievalSpec extends SparkSpec {
  import spark.implicits._

  test("rrfFuse sums floor(1e6/(c+rank)) across lists and re-ranks") {
    val l1 = Seq((1L, 10L, 1), (1L, 20L, 2)).toDF("query_id", "id", "rnk")
    val l2 = Seq((1L, 20L, 1), (1L, 30L, 2)).toDF("query_id", "id", "rnk")
    val got = Retrieval.rrfFuse(Seq(l1, l2), "id", c = 60, k = 10)
      .orderBy("rnk").as[(Long, Long, Int, Long)].collect()
    // doc 20: 1e6/62 + 1e6/61 = 16129 + 16393 = 32522 — both-list doc wins
    // doc 10: 1e6/61 = 16393; doc 30: 1e6/62 = 16129
    assert(got.toSeq == Seq(
      (1L, 20L, 1, 32522L), (1L, 10L, 2, 16393L), (1L, 30L, 3, 16129L)))
  }

  test("rrfFuse breaks exact score ties by ascending doc id") {
    val l1 = Seq((7L, 5L, 1), (7L, 3L, 1)).toDF("query_id", "id", "rnk")
    val got = Retrieval.rrfFuse(Seq(l1), "id", c = 60, k = 10)
      .orderBy("rnk").as[(Long, Long, Int, Long)].collect()
    assert(got.map(_._2).toSeq == Seq(3L, 5L))
    assert(got.map(_._4).distinct.length == 1)
  }

  test("per-query bm25 scores only candidate docs, against each query's own terms") {
    val d = Seq(
      (1L, "apple banana cherry"), (2L, "apple apple date"),
      (3L, "cherry cherry cherry"), (4L, "nothing relevant here")
    ).toDF("doc_id", "text")
    val qt = Seq((100L, "apple"), (100L, "banana"), (200L, "cherry"))
      .toDF("query_id", "term")
    val got = Retrieval.bm25TopKPerQuery(d, "text", "doc_id", qt, k = 10)
      .as[(Long, Long, Int, Long)].collect()
    val byQuery = got.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    // query 100 (apple, banana) hits docs 1, 2; query 200 (cherry) hits 1, 3
    assert(byQuery == Map(100L -> Set(1L, 2L), 200L -> Set(1L, 3L)))
    // doc 3 (tf=3 of a rarer... same df — higher tf) outranks doc 1 for query 200
    val q200 = got.filter(_._1 == 200L).sortBy(_._3).map(_._2).toSeq
    assert(q200 == Seq(3L, 1L))
  }

  test("bm25 ranks by score desc with id tiebreak, bounded at k") {
    val d = (1L to 20L).map(i => (i, "common word")).toDF("doc_id", "text")
    val qt = Seq((1L, "common")).toDF("query_id", "term")
    val got = Retrieval.bm25TopKPerQuery(d, "text", "doc_id", qt, k = 5)
      .orderBy("rnk").as[(Long, Long, Int, Long)].collect()
    // all 20 docs tie exactly → the 5 smallest ids in id order
    assert(got.map(_._2).toSeq == Seq(1L, 2L, 3L, 4L, 5L))
  }

  test("fusion favors docs present in both lists on the real corpus") {
    val q = SparkEntry.queries("search_hybrid_rrf")(spark, sf("sf0.01"))
    val rows = q.as[(Long, Long, Int, Long)].collect()
    assert(rows.nonEmpty)
    // per query: ranks are 1..n contiguous, scores non-increasing in rank
    rows.groupBy(_._1).foreach { case (_, rs) =>
      val sorted = rs.sortBy(_._3)
      assert(sorted.map(_._3).toSeq == (1 to sorted.length).toSeq)
      assert(sorted.sliding(2).forall {
        case Array(a, b) => a._4 > b._4 || (a._4 == b._4 && a._2 < b._2)
        case _ => true
      })
    }
  }

  test("hybrid plan broadcasts the query side and never goes all-pairs on docs") {
    val p = SparkEntry.queries("search_hybrid_rrf")(spark, sf()).queryExecution
      .explainString(org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(!p.contains("CartesianProduct"), "hybrid plans a cartesian product")
    // ranking must ride the bounded TopK aggregator, not a corpus window:
    // the windows allowed in the plan are the query-term picker (sorts on
    // `term` — r22: usually gone entirely, the term table is collected to
    // a local table) and bm25's per-DOC length window (partitioned by the
    // doc id — doc-bounded groups, the keywords-style legitimate per-doc
    // window, so its spec must START with doc_id: a window merely
    // mentioning doc_id, e.g. sorting on it, could still be partitioned by
    // the query side). A window keyed on the query side sorting a score or
    // rank column would mean a per-query rank stage regressed to the
    // one-reducer-per-query shape.
    val wins = p.linesIterator.filter(_.contains("windowspecdefinition")).toSeq
    assert(wins.forall(w => w.contains("term#") || w.contains("windowspecdefinition(doc_id#")),
      s"non-term-picker, non-per-doc window in hybrid plan:\n${wins.mkString("\n")}")
  }
}
