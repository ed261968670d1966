package graft

import java.nio.file.Files

import graft.ops.{Graph, IncrementalDedup, IncrementalEmbeddingDedup}

/** Multi-job ops label their own jobs (`cc-prop round 3`, `incr-text b=0:
  * kept`, ...) and must hand the caller's job description back unchanged:
  * on return, and when they throw.
  */
class JobLabelSpec extends SparkSpec {
  import spark.implicits._

  private val Label = "caller: nightly dedup"

  private def labelAfter(body: => Any): String = {
    val sc = spark.sparkContext
    sc.setJobDescription(Label)
    try {
      body
      sc.getLocalProperty("spark.job.description")
    } finally sc.setJobDescription(null)
  }

  private def freshIndex(tag: String): String = {
    val p = Files.createTempDirectory(s"graft_label_$tag")
    p.toFile.deleteOnExit()
    s"$p/index"
  }

  private val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L))

  test("connected components keep the caller's job label") {
    assert(labelAfter(Graph.connectedComponents(edges.toDF("a", "b"), "a", "b")) === Label)
    assert(labelAfter(Graph.connectedComponentsStar(edges.toDF("a", "b"), "a", "b")) === Label)
  }

  test("connected components that fail to converge keep the caller's job label") {
    val path = (1L until 40L).map(i => (i, i + 1)).toDF("a", "b")
    assert(labelAfter(intercept[IllegalStateException](
      Graph.connectedComponents(path, "a", "b", maxIter = 2))) === Label)
    assert(labelAfter(intercept[IllegalStateException](
      Graph.connectedComponentsStar(path, "a", "b", maxIter = 1))) === Label)
  }

  test("an incremental text or embedding batch keeps the caller's job label") {
    val docs = Seq((1L, "alpha beta gamma delta epsilon zeta eta theta"),
      (2L, "alpha beta gamma delta epsilon zeta eta theta"),
      (3L, "one two three four five six seven eight nine")).toDF("doc_id", "text")
    assert(labelAfter(IncrementalDedup.addBatch(spark, freshIndex("text"), docs,
      "text", "doc_id", 0)) === Label)
    val vecs = Seq((1L, Seq(1.0f, 0.0f)), (2L, Seq(1.0f, 0.01f)), (3L, Seq(0.0f, 1.0f)))
      .toDF("vec_id", "embedding")
    assert(labelAfter(IncrementalEmbeddingDedup.addBatch(spark, freshIndex("emb"), vecs,
      "embedding", "vec_id", 0, dim = 2)) === Label)
  }
}
