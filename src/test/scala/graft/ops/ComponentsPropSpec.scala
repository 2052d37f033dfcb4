package graft.ops

import org.scalacheck.{Gen, Prop, Test => SCTest}

import graft.SparkSpec

/** Property check: the alternating star-contraction components must
  * equal an in-memory union-find on ANY graph — random edge sets with
  * self-loops, duplicates, chains and dense cores. The contract under
  * test: one row per non-isolated NON-ROOT node labeled with the MINIMUM
  * id reachable from it (the minimum itself emits no row — pinned by
  * ComponentsSpec). */
class ComponentsPropSpec extends SparkSpec {
  import spark.implicits._

  private val graphGen = for {
    nNodes <- Gen.choose(2, 30)
    nEdges <- Gen.choose(1, 70)
    edges <- Gen.listOfN(nEdges, for {
      a <- Gen.choose(0L, nNodes - 1L)
      b <- Gen.choose(0L, nNodes - 1L)
    } yield (a, b))
  } yield edges

  test("star contraction equals in-memory union-find on random graphs") {
    val prop = Prop.forAllNoShrink(graphGen) { edges =>
      val expect = ComponentsPropSpec.unionFind(edges)
      val got = Components
        .connected(spark, edges.toDF("src", "dst"))
        .as[(Long, Long)].collect().toMap
      Prop(got == expect) :| s"got $got want $expect"
    }
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(20), prop)
    assert(res.passed, res.status.toString)
  }

  test("the one-job checksum equals the count and xor aggregate on " +
      "random edge sets, the empty set included") {
    import org.apache.spark.sql.functions._
    def aggregated(e: org.apache.spark.sql.DataFrame): (Long, Long) = {
      val r = e.agg(count(lit(1)),
        coalesce(bit_xor(xxhash64(col("hi"), col("lo"))), lit(0L))).head()
      (r.getLong(0), r.getLong(1))
    }
    val edgeSets = Gen.choose(0, 60).flatMap(n => Gen.listOfN(n,
      Gen.zip(Gen.choose(-5L, 40L), Gen.choose(-5L, 40L))))
    val prop = Prop.forAllNoShrink(edgeSets) { edges =>
      val e = edges.toDF("hi", "lo").repartition(3)
      val (got, want) = (Components.checksum(e), aggregated(e))
      Prop(got == want) :| s"got $got want $want"
    }
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(20), prop)
    assert(res.passed, res.status.toString)
    val empty = Seq.empty[(Long, Long)].toDF("hi", "lo")
    assert(Components.checksum(empty) === ((0L, 0L)))
    assert(aggregated(empty) === ((0L, 0L)))
  }
}

object ComponentsPropSpec {
  /** In-memory union-find with min-id labeling. */
  def unionFind(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    def union(a: Long, b: Long): Unit = {
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    edges.foreach { case (a, b) => union(a, b) }
    val nonIsolated = edges.filter { case (a, b) => a != b }
      .flatMap { case (a, b) => Seq(a, b) }.toSet
    // the engine emits non-root rows only (the component minimum labels
    // everyone else, never itself — pinned by ComponentsSpec)
    nonIsolated.map(n => n -> find(n)).filter { case (n, r) => n != r }.toMap
  }
}
