package graft

import org.apache.spark.sql.functions._

import graft.operators.Dedup

/** Connected components over dedup pairs: transitivity, chain collapse, and
  * representative selection.
  */
class ClustersSpec extends SparkSpec {

  test("label propagation merges chains transitively") {
    import spark.implicits._
    // components: {1,2,3,4} (chain), {10,11}, {20,21,22} (star on 20)
    val pairs = Seq(
      (1L, 2L), (2L, 3L), (3L, 4L),
      (10L, 11L),
      (20L, 21L), (20L, 22L)
    ).toDF("doc_a", "doc_b")
    val got = Dedup.clusters(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L, 20L -> 20L, 21L -> 20L, 22L -> 20L), s"got $got")
  }

  test("a null doc id is refused before the loop, not folded into a self-pair") {
    import spark.implicits._
    // greatest/least skip nulls, so (null, 7) would silently become the
    // self-pair (7, 7); the convergence anti-join is null-unsafe
    val pairs = Seq[(Option[Long], Option[Long])](
      (Some(1L), Some(2L)), (None, Some(7L))).toDF("doc_a", "doc_b")
    val e = intercept[IllegalArgumentException](Dedup.clusters(pairs))
    assert(e.getMessage.contains("null doc id"), e.getMessage)
  }

  test("chains far longer than maxIter converge via star contraction") {
    import spark.implicits._
    // a 200-node path: plain one-hop propagation needs 199 rounds; the
    // large-star/small-star rounds must collapse it within the default
    // maxIter=20 (O(log² n))
    val chain = (0L until 199L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    val got = Dedup.clusters(chain)
    assert(got.count() == 200)
    assert(got.select("cluster_id").distinct().collect().map(_.getLong(0)).toSeq == Seq(0L))
  }

  test("chains with SCATTERED ids converge within maxIter (the halving trap)") {
    import spark.implicits._
    // the same 300-node path with ids randomly permuted along it: local
    // minima are scattered, so min-label propagation + pointer halving
    // degrades to one hop per round (the label's own label is itself) and
    // needs ~diameter rounds — the sf0.1 image-phash non-convergence bug.
    // Star contraction is insensitive to the id layout.
    val perm = new scala.util.Random(42).shuffle((0L until 300L).toVector)
    val chain = (0 until 299).map(i => (perm(i), perm(i + 1))).toDF("doc_a", "doc_b")
    val got = Dedup.clusters(chain)
    assert(got.count() == 300)
    assert(got.select("cluster_id").distinct().collect().map(_.getLong(0)).toSeq == Seq(0L))
  }

  test("self-pair-only docs keep their own label") {
    import spark.implicits._
    val pairs = Seq((7L, 7L), (1L, 2L)).toDF("doc_a", "doc_b")
    val got = Dedup.clusters(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(7L -> 7L, 1L -> 1L, 2L -> 1L), s"got $got")
  }

  test("non-convergence raises instead of returning partially merged labels") {
    import spark.implicits._
    val chain = (0L until 63L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    // maxIter=1: one star round cannot collapse a 64-node path
    val e = intercept[IllegalStateException] {
      Dedup.clusters(chain, maxIter = 1).collect()
    }
    assert(e.getMessage.contains("did not converge"))
  }

  test("cluster representatives = one doc per near-dup group on the fixture") {
    val docs = graft.sources.Tables(spark, sfDir, "documents")
    val pairs = Dedup.minHashLshPairs(docs, "doc_id", "text")
    val clusters = Dedup.clusters(pairs)
    // every clustered doc maps to the min doc_id of its component
    val reps = clusters.groupBy("cluster_id").agg(min("doc_id").as("m")).collect()
    reps.foreach(r => assert(r.getLong(0) == r.getLong(1),
      "cluster_id must equal the component's min doc_id"))
    // cluster membership covers exactly the docs that appear in some pair
    val paired = pairs.select(explode(array(col("doc_a"), col("doc_b"))).as("d"))
      .distinct().count()
    assert(clusters.count() == paired)
  }
}
