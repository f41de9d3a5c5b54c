package graft.queries

import graft.TestSpark
import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

/** Connected components on both paths. The star loop (alternating
  * large-star/small-star): label correctness against a driver union-find
  * oracle, the O(log n) round bound on the pathological chain that
  * defeats plain min-label propagation, and the O(1)-in-rounds
  * executor-storage bound (each round's checkpoint releases its
  * predecessor's blocks). The driver path: the size decision at its
  * bound, labels identical to the loop's, one pinned RDD, integral ids.
  */
class CCSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark

  private def labels(df: DataFrame): Set[(Long, Long)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet

  /** Labels from the public entry (the driver path at these sizes) and
    * from the loop entry, each run once, with the persistent RDDs each
    * call left pinned.
    */
  private def bothPaths(edges: DataFrame): (Set[(Long, Long)], Set[(Long, Long)]) = {
    val sc = spark.sparkContext
    def run(cc: DataFrame => (graft.Checkpoints.Checkpointed, Int)) = {
      val before = sc.getPersistentRDDs.keySet
      val (cp, rounds) = cc(edges)
      val pinned = (sc.getPersistentRDDs.keySet -- before).size
      try (labels(cp.df), rounds, pinned) finally cp.release()
    }
    val (d, dRounds, dPinned) = run(Dedup.connectedComponentsWithRounds(_))
    val (l, _, lPinned) = run(Dedup.connectedComponentsLoop(_))
    assert(dRounds == 1, "the driver path reports one pass")
    assert(dPinned <= 1, s"the driver path left $dPinned persistent RDDs")
    assert(lPinned <= 2, s"the loop left $lPinned persistent RDDs")
    (d, l)
  }

  private def randomGraph(seed: Int, nEdges: Int, nNodes: Int): Seq[(Long, Long)] = {
    val rnd = new scala.util.Random(seed)
    Seq.fill(nEdges)((rnd.nextInt(nNodes).toLong, rnd.nextInt(nNodes).toLong))
      .filter(e => e._1 != e._2).distinct
  }

  /** Three densities: sparse forest-ish, medium, dense single component. */
  private val Graphs = Seq((7, 300, 200), (11, 60, 150), (23, 900, 120))

  test("64-node chain converges in O(log n) rounds, labels = component min") {
    import spark.implicits._
    // worst case for propagation: one path, diameter 63 — one run yields
    // both the labels and the round count
    val chain = (0L until 63L).map(i => (i, i + 1)).toDF("id1", "id2")
    val (cp, rounds) = Dedup.connectedComponentsLoop(chain)
    assert(rounds <= 7, s"took $rounds rounds; plain propagation needs ~63")
    val labels = cp.df.collect().map(r => (r.getLong(0), r.getLong(1)))
    cp.release()
    assert(labels.length == 64)
    assert(labels.forall(_._2 == 0L), "every chain node labels to the min (0)")
  }

  test("random-graph labels match driver union-find; storage stays O(1)") {
    import spark.implicits._
    for ((seed, nEdges, nNodes) <- Graphs) {
      val edges = randomGraph(seed, nEdges, nNodes)
      val before = spark.sparkContext.getPersistentRDDs.keySet
      val got = Dedup.connectedComponents(edges.toDF("a", "b")).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toMap
      // driver union-find with min-root unions → root IS the component min
      val parent = scala.collection.mutable.Map.empty[Long, Long]
      def find(x: Long): Long = {
        val p = parent.getOrElse(x, x)
        if (p == x) x else { val r = find(p); parent(x) = r; r }
      }
      edges.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val nodes = edges.flatMap(e => Seq(e._1, e._2)).distinct
      assert(got.size == nodes.size, s"seed $seed")
      nodes.foreach(n =>
        assert(got(n) == find(n), s"seed $seed: label mismatch at node $n"))
      // the loop released every superseded round: only the final labels'
      // checkpoint may remain pinned
      val leaked = spark.sparkContext.getPersistentRDDs.keySet -- before
      assert(leaked.size <= 2, s"seed $seed: leaked ${leaked.size} persistent RDDs")
    }
  }

  test("the size decision closes on the driver up to its bound, loops above") {
    assert(Dedup.ccOnDriver(0L))
    assert(Dedup.ccOnDriver(Dedup.DriverCcMaxEdges))
    assert(!Dedup.ccOnDriver(Dedup.DriverCcMaxEdges + 1))
  }

  test("driver path labels equal the loop's on random graphs; one RDD stays pinned") {
    import spark.implicits._
    for ((seed, nEdges, nNodes) <- Graphs) {
      val (d, l) = bothPaths(randomGraph(seed, nEdges, nNodes).toDF("a", "b"))
      assert(d.nonEmpty && d == l, s"seed $seed: driver and loop labels differ")
    }
  }

  test("empty, single-edge, and self-loop-only graphs") {
    import spark.implicits._
    val empty = Seq.empty[(Long, Long)].toDF("a", "b")
    assert(Dedup.connectedComponents(empty).count() == 0)
    val one = Seq((5L, 9L)).toDF("a", "b")
    val got = Dedup.connectedComponents(one).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == Set((5L, 5L), (9L, 5L)))
    // a node whose only edge is reflexive still gets a label
    val loops = Seq((7L, 7L), (1L, 2L)).toDF("a", "b")
    val got2 = Dedup.connectedComponents(loops).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got2 == Set((7L, 7L), (1L, 1L), (2L, 1L)))
    for (g <- Seq(empty, one, loops)) {
      val (d, l) = bothPaths(g)
      assert(d == l)
    }
  }

  test("driver path: ids at the Long extremes, integral widening, non-integral or null ids rejected") {
    import spark.implicits._
    val (mx, mn) = (Long.MaxValue, Long.MinValue)
    val edges = Seq((mx, mx - 1), (mx - 1, 0L), (mn, mn + 1), (3L, 3L)).toDF("a", "b")
    val (d, l) = bothPaths(edges)
    assert(d == Set((mx, 0L), (mx - 1, 0L), (0L, 0L), (mn, mn), (mn + 1, mn), (3L, 3L)))
    assert(d == l)
    // int ids keep the loop's id type
    val ints = Seq((4, 2), (2, 9)).toDF("a", "b")
    val (cp, _) = Dedup.connectedComponentsWithRounds(ints)
    val (loop, _) = Dedup.connectedComponentsLoop(ints)
    assert(cp.df.schema.map(_.dataType) == loop.df.schema.map(_.dataType))
    assert(cp.df.collect().map(r => (r.getInt(0), r.getInt(1))).toSet ==
      Set((2, 2), (4, 2), (9, 2)))
    cp.release(); loop.release()
    val before = spark.sparkContext.getPersistentRDDs.keySet
    intercept[IllegalArgumentException] {
      Dedup.connectedComponents(Seq(("x", "y")).toDF("a", "b"))
    }
    intercept[IllegalArgumentException] {
      Dedup.connectedComponents(Seq((Some(1L), None), (Some(1L), Some(2L))).toDF("a", "b"))
    }
    assert(spark.sparkContext.getPersistentRDDs.keySet -- before == Set.empty,
      "a rejected input releases its raw edges")
  }

  test("non-convergence within maxRounds fails loudly, not silently") {
    import spark.implicits._
    val chain = (0L until 40L).map(i => (i, i + 1)).toDF("id1", "id2")
    val before = spark.sparkContext.getPersistentRDDs.keySet
    intercept[IllegalStateException] {
      Dedup.connectedComponentsLoop(chain, maxRounds = 1)
    }
    assert(spark.sparkContext.getPersistentRDDs.keySet -- before == Set.empty,
      "a non-converged loop left its checkpoints pinned")
  }
}
