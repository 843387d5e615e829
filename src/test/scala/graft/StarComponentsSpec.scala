package graft

import graft.ml.StarComponents
import org.scalatest.funsuite.AnyFunSuite

/** Large-star/small-star contraction must produce the labeling the
  * driver-side references in [[ComponentsSpec]] (union-find and
  * min-label propagation) compute on every graph shape, in both its
  * execution regimes.
  */
class StarComponentsSpec extends AnyFunSuite with SharedSpark {
  import spark.implicits._
  import ComponentsSpec.{minLabelComponents, ufComponents}

  /** Runs BOTH execution regimes — the driver union-find fast path
    * (default, every fixture here is under the edge ceiling) and the
    * distributed star-contraction loop (forced via driverEdgeLimit=0)
    * — and asserts they label identically before returning (round 15:
    * the fast path must never diverge from the published algorithm).
    */
  private def star(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val fast = StarComponents.connectedComponents(edges.toDF("src", "dst"))
      .as[(Long, Long)].collect().toMap
    val loop = StarComponents.connectedComponents(edges.toDF("src", "dst"),
        driverEdgeLimit = 0L)
      .as[(Long, Long)].collect().toMap
    assert(fast == loop,
      s"driver union-find and star contraction disagree: $fast vs $loop")
    fast
  }

  test("empty edge list: empty labeling") {
    assert(star(Seq.empty).isEmpty)
  }

  test("self-loops only: every node is its own component") {
    assert(star(Seq(5L -> 5L, 9L -> 9L)) == Map(5L -> 5L, 9L -> 9L))
  }

  test("long chain converges (the worst case for naive propagation)") {
    val chain = (0L until 63L).map(i => i -> (i + 1))
    val got = star(chain)
    assert(got.size == 64 && got.values.forall(_ == 0L))
  }

  test("disjoint cliques + a bridge") {
    val cliqueA = for (a <- 10L to 14L; b <- 10L until a) yield a -> b
    val cliqueB = for (a <- 20L to 24L; b <- 20L until a) yield a -> b
    val got = star(cliqueA ++ cliqueB :+ (14L -> 20L))
    assert(got.values.toSet == Set(10L)) // bridge merges everything
  }

  test("random graphs: star contraction ≡ min-label propagation") {
    val rnd = new scala.util.Random(29)
    for (trial <- 1 to 3) {
      val n = 60 + trial * 20
      val edges = Seq.fill(n * 2)(
        (rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
      val got = star(edges)
      assert(got == minLabelComponents(edges), s"trial $trial disagreed")
      assert(got == ufComponents(edges), s"trial $trial disagreed with union-find")
    }
  }

  test("sparse forest: many small components, ids far apart") {
    val edges = Seq(1000000L -> 7L, 7L -> 3L, 500L -> 501L, 999L -> 999L)
    assert(star(edges) == Map(
      1000000L -> 3L, 7L -> 3L, 3L -> 3L, 500L -> 500L, 501L -> 500L, 999L -> 999L))
  }

  test("validate=false skips the post-checks but labels identically") {
    val edges = Seq(1L -> 2L, 2L -> 3L, 10L -> 11L)
    val unchecked = StarComponents
      .connectedComponents(edges.toDF("src", "dst"), validate = false)
      .as[(Long, Long)].collect().toMap
    assert(unchecked == star(edges))
  }

  test("real dedup graph: both algorithms cluster the MinHash pairs identically") {
    val pairs = graft.queries.Similarity.minhashPairs(spark, sf, 0.5)
      .select("doc_a", "doc_b").localCheckpoint(true)
    val edges = pairs.as[(Long, Long)].collect().toSeq
    val labels = StarComponents.connectedComponents(
        pairs.toDF("src", "dst")).as[(Long, Long)].collect().toMap
    assert(labels.nonEmpty, "fixture should contain near-dup pairs")
    assert(labels == minLabelComponents(edges))
    assert(labels == ufComponents(edges))
  }
}
