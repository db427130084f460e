package graft.queries

import graft.{SparkEntry, SparkSpec}

/** Structural invariants for the PageRank round the oracle can't
  * express: node-set completeness, the rank floor, and the
  * degree-centrality ordering the undirected power iteration must
  * approach.
  */
class GraphSpec extends SparkSpec {

  private val sfDir = "/root/testdata/sf0.01"

  test("pagerank: node set, rank floor, and degree-rank correlation") {
    val rows = SparkEntry.queries("q_graph_pagerank")(spark, sfDir).collect()
    val custs = rows.filter(_.getString(0) == "customer")
    val supps = rows.filter(_.getString(0) == "supplier")
    assert(custs.nonEmpty && supps.nonEmpty)
    // every supplier ships something at every sf, so all appear
    val nSupp = spark.read.parquet(s"$sfDir/supplier.parquet").count()
    assert(supps.length == nSupp, s"${supps.length} supplier nodes != $nSupp suppliers")
    // teleport floor: no node can rank below the damping constant
    assert(rows.forall(_.getLong(3) >= 150000L))
    // high-degree nodes must outrank low-degree ones in aggregate:
    // compare mean rank of the top and bottom degree quartiles
    val byDeg = rows.sortBy(_.getLong(2))
    val q = byDeg.length / 4
    val lo = byDeg.take(q).map(_.getLong(3).toDouble).sum / q
    val hi = byDeg.takeRight(q).map(_.getLong(3).toDouble).sum / q
    assert(hi > lo, s"mean rank of top degree quartile $hi <= bottom $lo")
  }

  /** The hot-pair fixture: K apexes each adjacent to both 1 and 2,
    * plus the edge (1,2) — K triangles all sharing the (1,2) pair.
    */
  private def hotEdges(k: Int): Seq[(Long, Long)] =
    (1L, 2L) +: (0 until k).flatMap { i =>
      val a = 100L + i; Seq((1L, a), (2L, a))
    }

  private def triSet(df: org.apache.spark.sql.DataFrame): Set[(Long, Long, Long)] =
    df.collect().map(r => (r.getAs[Long]("apex"), r.getAs[Long]("lo"),
      r.getAs[Long]("hi"))).toSet

  test("adjacency-intersect triangles equal a brute-force enumeration") {
    import spark.implicits._
    /** Every {a < b < c} triple whose three edges are all in `edges`,
      * and every node's degree.
      */
    def bruteForce(edges: Seq[(Long, Long)])
        : (Set[(Long, Long, Long)], Map[Long, Long]) = {
      val und = edges.map { case (u, v) => (math.min(u, v), math.max(u, v)) }.toSet
      val nbrs = und.toSeq.flatMap { case (u, v) => Seq(u -> v, v -> u) }
        .groupMap(_._1)(_._2).map { case (n, ns) => n -> ns.toSet }
      val tris = for {
        (a, b) <- und
        c <- Seq(nbrs(a), nbrs(b)).minBy(_.size)
        if c > b && nbrs(a)(c) && nbrs(b)(c)
      } yield (a, b, c)
      (tris, nbrs.map { case (n, ns) => n -> ns.size.toLong })
    }
    def check(label: String, edges: Seq[(Long, Long)]): Int = {
      val (tri, deg) = GraphQueries.trianglesFromPairsAdj(
        edges.toDF("u", "v").localCheckpoint())
      val rows = tri.collect().map(r => Seq(r.getAs[Long]("apex"),
        r.getAs[Long]("lo"), r.getAs[Long]("hi")).sorted)
        .map { case Seq(a, b, c) => (a, b, c) }.toSeq
      val (wantTri, wantDeg) = bruteForce(edges)
      // each triangle exactly once, whatever its orientation
      assert(rows.distinct.length == rows.length,
        s"$label: ${rows.length - rows.distinct.length} duplicate triangles")
      assert(rows.toSet == wantTri, s"$label: only-engine=" +
        s"${(rows.toSet -- wantTri).take(3)} only-brute=${(wantTri -- rows.toSet).take(3)}")
      assert(deg.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap == wantDeg,
        s"$label: degrees differ")
      rows.length
    }
    assert(check("hot pair", hotEdges(5000)) == 5000)
    // seeded random graphs at varying densities — a property sweep,
    // not one lucky fixture (sparse graphs exercise empty adjacency
    // lists / zero-triangle nodes, dense ones the orientation bound)
    var sawTriangles = false
    for ((seed, nNodes, nDraws) <- Seq((7, 300, 2500), (13, 60, 300),
        (29, 40, 700), (42, 500, 1200), (99, 25, 280))) {
      val rnd = new scala.util.Random(seed)
      val rand = Seq.fill(nDraws) {
        val a = rnd.nextInt(nNodes).toLong; val b = rnd.nextInt(nNodes).toLong
        (math.min(a, b), math.max(a, b))
      }.filter(p => p._1 != p._2).distinct
      sawTriangles |= check(s"seed $seed", rand) > 0
    }
    assert(sawTriangles, "fixture degenerate: no triangles in any random graph")
  }

  test("shuffle_hash triangle route (cap 0) equals the broadcast route") {
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.joins.ShuffledHashJoinExec
    import spark.implicits._
    val k = 5000
    val pairs = hotEdges(k).toDF("u", "v").localCheckpoint()
    // cap 0 forces the >5M-edge routing regardless of fixture size
    val (shuffled, _) = GraphQueries.trianglesFromPairsAdj(pairs, broadcastEdgeCap = 0L)
    val (broadcast, _) =
      GraphQueries.trianglesFromPairsAdj(pairs, broadcastEdgeCap = Long.MaxValue)
    val got = triSet(shuffled)
    assert(got.size == k)
    assert(got == triSet(broadcast), "the two routes disagree")
    val finalPlan = shuffled.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p                        => p
    }
    // query stages are leaf nodes to collect(); descend explicitly
    def allNodes(p: SparkPlan): Seq[SparkPlan] = p +: (p match {
      case q: QueryStageExec => Seq(q.plan)
      case other             => other.children
    }).flatMap(allNodes)
    assert(allNodes(finalPlan).exists(_.isInstanceOf[ShuffledHashJoinExec]),
      s"no shuffle_hash adjacency join in:\n$finalPlan")
  }

  test("bfs census: planted path, disconnected island, and hop-cap truncation") {
    import spark.implicits._
    // path 0-1-2-3 (undirected) plus island 10-11: distances 0..3,
    // island nodes unreached
    val und = Seq((0L, 1L), (1L, 2L), (2L, 3L), (10L, 11L))
    val edges = und.toDF("src", "dst")
      .union(und.map(_.swap).toDF("src", "dst"))
    val census = graft.queries.GraphQueries.bfsCensus(spark, edges, 0L, 6)
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(census == Map(0 -> 1L, 1 -> 1L, 2 -> 1L, 3 -> 1L, -1 -> 2L), s"got $census")
    // hop cap 2 truncates: node 3 joins the unreached mass with the island
    val capped = graft.queries.GraphQueries.bfsCensus(spark, edges, 0L, 2)
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(capped == Map(0 -> 1L, 1 -> 1L, 2 -> 1L, -1 -> 3L), s"got $capped")
  }

  test("lpa communities: two planted cliques bridged by one edge") {
    import spark.implicits._
    // triangles {1,2,3} and {4,5,6} plus bridge 3-4; hand-traced 4
    // synchronous min-tie-break rounds converge to labels 1 and 3 —
    // two communities of size 3 (the bridge never flips a clique)
    val pairs = Seq((1L, 2L), (1L, 3L), (2L, 3L),
      (4L, 5L), (4L, 6L), (5L, 6L), (3L, 4L)).toDF("u", "v")
    val census = GraphQueries.lpaCensus(pairs, 4)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(census == Map(3L -> 2L), s"got $census")
    // determinism: a second run produces the identical census
    val again = GraphQueries.lpaCensus(pairs, 4)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(again == census)
  }
}
