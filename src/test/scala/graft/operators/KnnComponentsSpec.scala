package graft.operators

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.SparkSpec

/** Pins for the full-corpus components face (VERDICT r17 item 4): the
  * engine's labels must equal TRUE connected components from a driver
  * union-find over the identical edge set (the kNN face itself is
  * oracle-exact + spec-pinned, so collecting its output as the replay's
  * edges is sound), and csize must be the true component population.
  * The DuckDB gate compares the engine with [[Similarity.KnnCcIters]]
  * unrolled hash-to-min rounds: if that gate fails while this pin holds,
  * the oracle's round count has stopped sufficing, not the engine. */
class KnnComponentsSpec extends AnyFunSuite with SparkSpec {
  val dir = "/root/testdata/sf0.001"

  /** Runs `knn_components` on `d` and checks every label and csize
    * against a driver union-find over the same kNN edges; returns the
    * node count and each component's population. */
  private def assertUnionFind(d: String): (Int, Map[Long, Int]) = {
    val got = Similarity.knnComponents(spark, d).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    graft.SharedFrames.releaseAll()
    assert(got.nonEmpty, s"no components at $d")
    val edges = Similarity.knnGraphIvf(spark, d)
      .select(col("src"), col("nbr")).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    graft.SharedFrames.releaseAll()
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElse(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    def union(a: Long, b: Long): Unit = {
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    edges.foreach { case (a, b) => union(a, b) }
    // component id contract: the min vec_id of the component — which is
    // exactly the union-find root when unions always point max → min
    val expected = got.map(_._1).map(v => v -> find(v)).toMap
    got.foreach { case (v, comp, _) =>
      assert(comp == expected(v),
        s"$d node $v: component $comp != union-find ${expected(v)}")
    }
    // csize is the true component population
    val pops = expected.values.groupBy(identity).view.mapValues(_.size).toMap
    got.foreach { case (v, comp, csize) =>
      assert(csize == pops(comp).toLong,
        s"$d node $v: csize $csize != population ${pops(comp)} of $comp")
    }
    (got.length, pops)
  }

  test("labels ≡ driver union-find; csize consistent") {
    val (n, pops) = assertUnionFind(dir)
    info(s"$n nodes, ${pops.size} components, largest ${pops.values.max}")
  }

  test("labels ≡ driver union-find at sf0.01 and sf0.1") {
    // diameters grow with the corpus; the oracle's fixed hash-to-min
    // round count is only as good as this agreement at every SF
    for (d <- Seq("/root/testdata/sf0.01", "/root/testdata/sf0.1")) {
      assertUnionFind(d)
    }
  }
}
