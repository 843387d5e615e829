package graft

import graft.ml.StarComponents
import graft.queries.Similarity
import org.scalatest.funsuite.AnyFunSuite

/** Connected components (`StarComponents`, the one algorithm) vs a
  * driver-side union-find reference, plus the dedup-cluster composition
  * over MinHash pairs.
  */
class ComponentsSpec extends AnyFunSuite with SharedSpark {
  import spark.implicits._
  import ComponentsSpec.ufComponents

  private def run(edges: Seq[(Long, Long)]): Map[Long, Long] =
    StarComponents.connectedComponents(edges.toDF("src", "dst"))
      .as[(Long, Long)].collect().toMap

  test("empty edge list yields an empty labeling (clean corpus: no near-dup pairs)") {
    val labels = StarComponents.connectedComponents(
      Seq.empty[(Long, Long)].toDF("src", "dst"))
    assert(labels.isEmpty)
    val clusters = StarComponents.dedupClusters(
      Seq.empty[(Long, Long)].toDF("a", "b"), "a", "b")
    assert(clusters.isEmpty)
  }

  test("random graph components match union-find") {
    val rnd = new scala.util.Random(13)
    val edges = Seq.fill(200)((rnd.nextInt(80).toLong, rnd.nextInt(80).toLong))
    val got = run(edges)
    val want = ufComponents(edges)
    assert(got.keySet == want.keySet)
    // same partition: canonical labels are min-of-component on both sides
    assert(got == want.map { case (k, _) => k -> want.filter(_._2 == want(k)).keys.min })
  }

  test("long path converges within O(log n) rounds (diameter stress)") {
    // a 64-node chain has diameter 63: plain min-label propagation would
    // need 63 rounds; the distributed star-contraction loop (forced with
    // driverEdgeLimit = 0) must collapse it within its maxIter budget
    val path = (0L until 63L).map(i => (i, i + 1))
    val got = StarComponents.connectedComponents(path.toDF("src", "dst"),
        maxIter = 20, driverEdgeLimit = 0L)
      .as[(Long, Long)].collect().toMap
    assert(got.size == 64 && got.values.toSet == Set(0L),
      s"path must collapse to comp 0: $got")
  }

  test("disjoint cliques stay separate components")  {
    val cliqueA = for (a <- 0L to 3L; b <- 0L to 3L if a < b) yield (a, b)
    val cliqueB = for (a <- 10L to 13L; b <- 10L to 13L if a < b) yield (a, b)
    val got = run(cliqueA ++ cliqueB)
    assert((0L to 3L).forall(got(_) == 0L) && (10L to 13L).forall(got(_) == 10L))
  }

  test("dedup clusters over MinHash pairs: representative is min id, sizes partition the nodes") {
    val pairs = Similarity.minhashPairs(spark, sf, 0.5)
    val pairRows = pairs.select("doc_a", "doc_b").as[(Long, Long)].collect().toSeq
    assume(pairRows.nonEmpty, "fixture should contain near-dup pairs")
    val clusters = StarComponents.dedupClusters(pairs, "doc_a", "doc_b")
      .as[(Long, Long)].collect().toSeq
    val want = ufComponents(pairRows)
    val wantSizes = want.groupBy(_._2).map { case (c, m) => c -> m.size.toLong }
    assert(clusters.toMap == wantSizes,
      s"cluster (rep, size) must match union-find: got $clusters want $wantSizes")
    // every clustered doc appears exactly once across clusters
    assert(clusters.map(_._2).sum == want.size)
  }
}

/** Driver-side references, independent of the engine; every node maps to
  * its component's minimum id. StarComponentsSpec uses them too.
  */
object ComponentsSpec {

  /** Reference union-find. */
  def ufComponents(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    parent.keys.map(k => k -> find(k)).toMap
  }

  /** Reference min-label propagation: every node takes the least label
    * across its edges until no label changes.
    */
  def minLabelComponents(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val label = scala.collection.mutable.Map[Long, Long]()
    edges.foreach { case (a, b) => label(a) = a; label(b) = b }
    var changed = true
    while (changed) {
      changed = false
      edges.foreach { case (a, b) =>
        val m = math.min(label(a), label(b))
        if (label(a) != m) { label(a) = m; changed = true }
        if (label(b) != m) { label(b) = m; changed = true }
      }
    }
    label.toMap
  }
}
