package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import Q._

/** Graph analytics over relations — the entity-importance /
  * link-structure family a curation pipeline uses to weight sources
  * (PageRank over a bipartite trade graph here; the dedup cluster
  * graph is the other natural edge source, covered by
  * `q_dedup_components`).
  */
object GraphQueries {

  /** Power-iteration rounds for [[qGraphPagerank]] (shared with the
    * unrolled oracle so depth cannot drift).
    */
  val prIters = 3

  /** PageRank (damping 0.85, Brin & Page 1998) over the UNDIRECTED
    * customer↔supplier graph induced by orders⋈lineitem — "which
    * counterparties sit at the center of the trade network". Both
    * directions are materialized as directed edges, so every node has
    * out-degree >= 1 and the dangling-mass correction disappears by
    * construction.
    *
    * Scale shape: each of the [[prIters]] rounds is edges⋈ranks (an
    * equi-join on the 8-byte node id) + one partial-aggregatable
    * groupBy(dst) — the standard message-passing round, all shuffles
    * on node id, nothing driver-side and no per-round collect. The
    * degree-joined edge list is MATERIALIZED once via localCheckpoint
    * before iterating (the Pregel-superstep discipline): left in the
    * lazy plan, the orders⋈lineitem→distinct lineage is textually
    * repeated per round and AQE's stage reuse does not unify all of
    * them — measured 29 s at sf1 recomputing a 6M-row join ~5×, vs
    * one build + cheap per-round scans of the ~10 MB edge table.
    * Same move as triangles/kcore below.
    *
    * Determinism (hash-gate contract): ranks live as integer
    * micro-units (r0 = 1e6). A round sends floor(r/deg) along each
    * edge (exact integer division), sums exactly, and re-ranks as
    * 150000 + floor(0.85·Σ) — one double multiply+floor per node, so
    * no accumulation-order noise can enter the gate.
    */
  /** HITS hubs/authorities (Kleinberg 1999) on the bipartite
    * customer→supplier purchase graph — the OTHER classic
    * eigenvector-centrality law beside PageRank, and it differs where
    * it matters for a gate: two mutually-recursive score vectors and
    * a per-round NORMALIZATION. The normalization is where float HITS
    * would leak last-ulp divergence (an L2 norm's sqrt per round), so
    * this form normalizes by the round MAXIMUM in integer micro
    * units — (score·1e6) div max — keeping every score an exact
    * integer through both rounds (the quantized-iteration discipline
    * of q_graph_pagerank / q_emb_pca applied to a coupled recursion).
    * Top-10 per side emitted with scores.
    *
    * Scale shape: the distinct pair list localCheckpoints once
    * (triangles/kcore pattern); each half-round is one key join +
    * partial-agg groupBy, and the 1-row max broadcasts — no
    * full-vector exchange beyond the score join. Micro-unit headroom:
    * raw sums reach |smaller side|·1e6 ≤ ~1.5e12 at sf10, ×1e6 for
    * the normalize still inside a long.
    */
  private def qGraphHits(s: SparkSession, dir: String): DataFrame = {
    val pairs = t(s, dir, "orders")
      .select(col("o_orderkey"), col("o_custkey"))
      .join(t(s, dir, "lineitem").select(col("l_orderkey"), col("l_suppkey")),
        col("o_orderkey") === col("l_orderkey"))
      .select(col("o_custkey").as("c"), col("l_suppkey").as("sp"))
      .distinct()
      .localCheckpoint()
    var hub = pairs.select(col("c")).distinct()
      .withColumn("h", lit(1000000L))
    var auth = pairs.select(col("sp")).distinct()
      .withColumn("a", lit(1000000L))
    for (_ <- 1 to 2) {
      // localCheckpoint per HALF-ROUND (optimization r18): `ar`/`hr`
      // each feed BOTH the 1-row max aggregate and the normalize
      // select, and the next half-round consumes the result again —
      // left lazy, the pairs⋈score lineage doubles per half-round
      // (2^4 plan copies by round 2 — a 4,235-line formatted plan,
      // plans/r18/q_graph_hits_before.txt) and the raw-score
      // join+groupBy re-executes inside every copy AQE's stage reuse
      // fails to unify. Materializing the node-dimension score
      // relation once per half-round is the same Pregel superstep
      // discipline as qGraphPagerank (see its docstring) — plan
      // 4,235 → 37 lines; wall 10.1 → 8.5 s median-of-3 in cold
      // subset isolation at sf0.1 (the cold pair-gen scan dominates
      // there; the full-bench warm wall moves more, see
      // OPTIMIZATION_r18.md).
      val ar = pairs.join(hub, Seq("c")).groupBy("sp")
        .agg(sum("h").as("a_raw")).localCheckpoint()
      auth = ar.crossJoin(broadcast(ar.agg(max("a_raw").as("mx"))))
        .select(col("sp"), expr("(a_raw * 1000000) div mx").as("a"))
        .localCheckpoint()
      val hr = pairs.join(auth, Seq("sp")).groupBy("c")
        .agg(sum("a").as("h_raw")).localCheckpoint()
      hub = hr.crossJoin(broadcast(hr.agg(max("h_raw").as("mx"))))
        .select(col("c"), expr("(h_raw * 1000000) div mx").as("h"))
        .localCheckpoint()
    }
    val topA = auth.orderBy(desc("a"), col("sp")).limit(10)
      .select(lit("authority").as("side"), col("sp").as("key"),
        col("a").as("score_micro"))
    val topH = hub.orderBy(desc("h"), col("c")).limit(10)
      .select(lit("hub").as("side"), col("c").as("key"),
        col("h").as("score_micro"))
    topA.unionByName(topH)
      .orderBy(col("side"), desc("score_micro"), col("key"))
  }

  private def qGraphPagerank(s: SparkSession, dir: String): DataFrame = {
    // nid encodes the bipartite side: customer 2k, supplier 2k+1
    val pairs = t(s, dir, "orders")
      .select(col("o_orderkey"), col("o_custkey"))
      .join(t(s, dir, "lineitem").select(col("l_orderkey"), col("l_suppkey")),
        col("o_orderkey") === col("l_orderkey"))
      .select((col("o_custkey") * 2).as("c"), (col("l_suppkey") * 2 + 1).as("sp"))
      .distinct()
    val edges = pairs.select(col("c").as("src"), col("sp").as("dst"))
      .union(pairs.select(col("sp").as("src"), col("c").as("dst")))
    val degPlan = edges.groupBy("src").agg(count(lit(1)).as("deg"))
    // Materialize ONCE via localCheckpoint (the triangles/kcore
    // pattern): executor-resident blocks, no filesystem path. The
    // earlier parquet spill went through a driver-local
    // Files.createTempDirectory — a schemeless /tmp path that resolves
    // against the default FS on a real cluster, where a dir created on
    // the driver means nothing to executors.
    val edgesD = edges.join(degPlan, Seq("src")).localCheckpoint()
    val deg = edgesD.select(col("src"), col("deg")).distinct()

    var ranks = deg.select(col("src").as("node"), lit(1000000L).as("rq"))
    for (_ <- 1 to prIters) {
      ranks = edgesD
        .join(ranks, edgesD("src") === ranks("node"))
        .select(col("dst"),
          floor(col("rq").cast("double") / col("deg")).as("msg"))
        .groupBy("dst")
        .agg(sum("msg").as("m"))
        .select(col("dst").as("node"),
          (floor(col("m").cast("double") * 0.85) + 150000L).as("rq"))
    }
    ranks
      .join(deg.withColumnRenamed("src", "node"), Seq("node"))
      .select(when(pmod(col("node"), lit(2)) === 0, lit("customer"))
          .otherwise(lit("supplier")).as("node_type"),
        (col("node") / 2).cast("long").as("key"),
        col("deg"), col("rq"))
      .orderBy("node_type", "key")
  }

  /** Unrolled DuckDB replay of [[qGraphPagerank]]. */
  private def prOracle: String = {
    def iter(k: Int): String =
      s"""r$k AS (SELECT dst AS node,
         |  CAST(floor(CAST(sum(CAST(floor(CAST(rq AS DOUBLE) / deg) AS BIGINT)) AS DOUBLE) * 0.85) AS BIGINT)
         |    + 150000 AS rq
         |  FROM ed JOIN r${k - 1} ON ed.src = r${k - 1}.node GROUP BY dst)""".stripMargin
    val rounds = (1 to prIters).map(iter).mkString(",\n")
    s"""WITH p AS (SELECT DISTINCT o_custkey * 2 AS c, l_suppkey * 2 + 1 AS sp
       |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
       |edges AS (SELECT c AS src, sp AS dst FROM p
       |          UNION ALL SELECT sp AS src, c AS dst FROM p),
       |deg AS (SELECT src, count(*) AS deg FROM edges GROUP BY src),
       |ed AS (SELECT e.src, e.dst, d.deg FROM edges e JOIN deg d USING (src)),
       |r0 AS (SELECT src AS node, CAST(1000000 AS BIGINT) AS rq FROM deg),
       |$rounds
       |SELECT CASE WHEN node % 2 = 0 THEN 'customer' ELSE 'supplier' END AS node_type,
       |  node // 2 AS key, d.deg, r.rq
       |FROM r$prIters r JOIN deg d ON d.src = r.node
       |ORDER BY node_type, key""".stripMargin
  }

  /** Degree distribution of the trade graph in exact log2 bins — the
    * pre-flight diagnostic for every graph algorithm here (is the
    * degree sequence heavy-tailed enough to need salting / hub
    * mirroring, or benign?). The bin is floor(log2(deg)) computed as
    * `length(bin(deg)) - 1` — pure integer/string arithmetic, because
    * `floor(ln(x)/ln(2))` flips at exact powers of two depending on
    * the engine's libm rounding. One groupBy(node) + one tiny census
    * aggregation; the distinct() is the same bounded projection
    * PageRank builds.
    */
  private def qGraphDegreeDist(s: SparkSession, dir: String): DataFrame = {
    val pairs = t(s, dir, "orders")
      .select(col("o_orderkey"), col("o_custkey"))
      .join(t(s, dir, "lineitem").select(col("l_orderkey"), col("l_suppkey")),
        col("o_orderkey") === col("l_orderkey"))
      .select((col("o_custkey") * 2).as("c"), (col("l_suppkey") * 2 + 1).as("sp"))
      .distinct()
    val deg = pairs.select(col("c").as("node"), col("sp").as("peer"))
      .union(pairs.select(col("sp").as("node"), col("c").as("peer")))
      .groupBy("node").agg(count(lit(1)).as("deg"))
    deg
      .select(when(pmod(col("node"), lit(2)) === 0, lit("customer"))
          .otherwise(lit("supplier")).as("node_type"),
        (length(bin(col("deg"))) - 1).as("bucket"), col("deg"))
      .groupBy("node_type", "bucket")
      .agg(count(lit(1)).as("n_nodes"),
        min("deg").as("min_deg"), max("deg").as("max_deg"),
        sum("deg").as("sum_deg"))
      .orderBy("node_type", "bucket")
  }

  /** Triangle participation census over the part co-purchase graph
    * (parts linked when they appear as lines of the same order — the
    * one-mode projection of the bipartite order↔part graph, which
    * itself is triangle-free). Output: how many parts sit in 0, 1,
    * 2, … triangles — the local-clustering readout behind
    * market-basket communities and link-spam screens. Parts, not
    * suppliers: the part key space grows WITH the data (avg degree
    * stays ~120 from sf0.01 to sf0.1), while the supplier projection
    * degenerates to a complete graph (C(100,2) edges at sf0.01) —
    * measured before choosing the node set.
    *
    * Algorithm: the degree-ordered "forward" method (Schank &
    * Wagner 2005; Suri & Vassilvitskii WWW'11 in its MapReduce
    * form). Every undirected edge is oriented from the endpoint with
    * the SMALLER (degree, id) total-order key to the larger, and a
    * triangle is an oriented edge (apex→lo) plus a common out-neighbor
    * hi of both endpoints — each triangle found exactly once.
    * Orienting by degree bounds every out-list by O(sqrt(m)), so no
    * hub with 10^6 neighbors ever expands sum-of-deg² candidates; the
    * common out-neighbors come from intersecting sorted out-lists
    * ([[trianglesFromPairsAdj]]). Every step is an equi-join on an
    * 8-byte node id; nothing driver-side. The (deg·2^32 + id) key
    * packs the total order into one BIGINT so both engines compare
    * identically (ids < 2^32 by the key-space contract; deg < 2^31
    * trivially).
    *
    * Projection fan-out is bounded by construction: an order has at
    * most 7 lines (the generator's lineitem contract), so the
    * per-order self-join emits ≤ C(7,2) = 21 pairs per order — the
    * projection stays linear in lineitem at any corpus size
    * (measured: 116k edges / 414k triangles at sf0.01, 1.2M / 1.9M
    * at sf0.1 — both linear in orders).
    */
  /** The distinct co-purchase edge list (u < v), localCheckpoint'd —
    * every relation consumed more than once is materialized exactly
    * once (round-13 profile: the lazy pair lineage was 8.7 s of a 20 s
    * wall and ran TWICE via the final degree join). Shared by every
    * co-purchase graph query (triangles, clustering, communities, link
    * prediction, …) so they can never silently read different graphs.
    */
  private[graft] def coPurchasePairs(li: DataFrame): DataFrame = {
    // Optimization r18 (guide §2.4): the original self-join form paid
    // THREE exchanges — li.distinct() on (ok, pk), the a⋈b join
    // re-exchange on ok, then the pair distinct on (u, v). A basket
    // is ≤ 7 lines by the generator contract, so the per-order pair
    // set fits an array: ONE groupBy(ok) collect_set (map-side
    // partial, subsumes the old li.distinct) + a map-side sorted-array
    // pair explosion (u < v by sort order, ≤ C(7,2) = 21 rows/order),
    // then the same (u, v) distinct — two exchanges, no join, same
    // distinct pair set bit-for-bit. Measured over the six consumers
    // at sf0.1: 48.1 → 39.7 s (0.83x, medians of 3; linkpred 0.62x —
    // its inline form was also lazy, and the registered plan drops
    // from 102 Exchange mentions to 20, plans/r18/
    // q_graph_linkpred_{before,after}.txt).
    val perOrder = li.groupBy("ok")
      .agg(sort_array(collect_set(col("pk"))).as("pks"))
    perOrder
      .select(col("pks"), posexplode(col("pks")).as(Seq("i", "u")))
      .select(col("u"),
        explode(slice(col("pks"), col("i") + lit(2), size(col("pks")))).as("v"))
      .distinct()
      .localCheckpoint()
  }

  /** Per-node triangle participation over the (apex, lo, hi) relation
    * — each triangle credits all three corners once.
    */
  private[graft] def perNodeTriCensus(tri: DataFrame): DataFrame =
    tri.select(col("apex").as("node"))
      .union(tri.select(col("lo").as("node")))
      .union(tri.select(col("hi").as("node")))
      .groupBy("node").agg(count(lit(1)).as("tri_count"))

  /** Edge count under which [[trianglesFromPairsAdj]] BROADCASTS the
    * adjacency lists into the per-edge intersect (~a few hundred MB
    * hashed at the cap); above it the join routes shuffle_hash.
    */
  val triBroadcastEdgeCap = 5000000L

  private def qGraphTriangles(s: SparkSession, dir: String): DataFrame = {
    // no pre-distinct: coPurchasePairs' per-order collect_set dedups
    // (ok, pk) itself — the old join form needed the distinct, the
    // grouped form makes it a wasted exchange (optimization r18)
    val li = t(s, dir, "lineitem")
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
    val (tri, deg) = trianglesFromPairsAdj(coPurchasePairs(li))
    val perNode = perNodeTriCensus(tri)
    deg.join(perNode, Seq("node"), "left_outer")
      .select(coalesce(col("tri_count"), lit(0L)).as("tri_count"))
      .groupBy("tri_count").agg(count(lit(1)).as("n_parts"))
      .orderBy("tri_count")
  }

  /** Degree-ordered triangle enumeration from an undirected pair list
    * `(u, v)` (u < v, deduplicated) by ADJACENCY INTERSECT (the
    * "compact-forward" method): returns the triangle relation
    * `(apex, lo, hi)` — each triangle exactly once — and the degree
    * relation `(node, deg)`. Instead of materializing the O(m^1.5)
    * wedge stream and closing it against the edge list, build each
    * node's out-neighbor KEY list once (`collect_list` over the
    * oriented edges — list length bounded O(sqrt m) by the degree
    * orientation) and intersect the two endpoint lists per edge; every
    * common out-neighbor IS a closed triangle, so only triangle rows
    * ever materialize. Shuffle volume is O(m) — edges plus adjacency
    * lists totaling m keys — and skew needs no armor because the
    * hottest adjacency list is capped by the orientation bound (the
    * wedge+closing-join form measured 3.2x slower at sf0.1 and sf1,
    * BASELINE.md round 15). GraphSpec pins the relation
    * against a brute-force enumeration and both join routes against
    * each other (`broadcastEdgeCap = 0` forces shuffle_hash).
    */
  private[graft] def trianglesFromPairsAdj(pairs: DataFrame,
      broadcastEdgeCap: Long = triBroadcastEdgeCap): (DataFrame, DataFrame) = {
    val deg = pairs.select(col("u").as("node"))
      .union(pairs.select(col("v").as("node")))
      .groupBy("node").agg(count(lit(1)).as("deg"))
      .localCheckpoint()
    val keyed = pairs
      .join(deg.select(col("node").as("u"), col("deg").as("du")), Seq("u"))
      .join(deg.select(col("node").as("v"), col("deg").as("dv")), Seq("v"))
      .select(col("u"), col("v"),
        (col("du") * 4294967296L + col("u")).as("ku"),
        (col("dv") * 4294967296L + col("v")).as("kv"))
    val e = keyed.select(
      when(col("ku") < col("kv"), col("u")).otherwise(col("v")).as("src"),
      when(col("ku") < col("kv"), col("v")).otherwise(col("u")).as("dst"),
      greatest(col("ku"), col("kv")).as("kdst"))
      .localCheckpoint()
    // lists sorted ONCE at aggregation time so the per-edge intersect
    // below runs as the codegen'd sorted merge, not a hash-set build
    val adj = e.groupBy("src")
      .agg(sort_array(collect_list(col("kdst"))).as("nbrs"))
      .localCheckpoint()
    // Size-aware routing, NEVER sort-merge: an SMJ would SORT the edge
    // rows WITH their array payloads — measured at 120M edges (sf10)
    // that sort spill is ~m·(|N+(u)|+|N+(v)|) bytes and exhausts local
    // disk. Under the cap the adjacency side (total size ~m keys)
    // BROADCASTS — the edge stream never shuffles at all; above it,
    // SHUFFLE_HASH hash-builds the node-sized side per partition and
    // the array-carrying stream stays pipelined, never sorted.
    val nEdges = pairs.count()
    def route(d: DataFrame): DataFrame =
      if (nEdges <= broadcastEdgeCap) broadcast(d) else d.hint("shuffle_hash")
    val tri = e.select(col("src"), col("dst"))
      .join(route(adj.select(col("src"), col("nbrs").as("un"))), Seq("src"))
      // an edge whose dst has NO out-list closes nothing — inner join
      // dropping it is exactly the empty intersection
      .join(route(adj.select(col("src").as("dst"), col("nbrs").as("vn"))),
        Seq("dst"))
      .select(col("src").as("apex"), col("dst").as("lo"),
        explode(graft.functions.SortedLongIntersect.sortedIntersect(
          col("un"), col("vn"))).as("khi"))
      .select(col("apex"), col("lo"),
        pmod(col("khi"), lit(4294967296L)).as("hi"))
    (tri, deg)
  }

  /** Local clustering-coefficient distribution over the co-purchase
    * graph — cc(v) = 2·tri(v) / (deg(v)·(deg(v)−1)) for deg ≥ 2, the
    * standard transitivity readout (Watts–Strogatz 1998): high-cc
    * parts sit in tight co-purchase cliques, cc≈0 parts bridge
    * unrelated baskets — a curation/recommendation signal derived for
    * free from the triangle relation. Exact integer arithmetic
    * end-to-end: cc in ppm via BIGINT floor-division, banded into 101
    * one-percent buckets so the result is a bounded census at any
    * corpus size. Reuses [[trianglesFromPairsAdj]] (O(m) shuffle, no
    * skew armor needed — see q_graph_triangles).
    */
  private def qGraphClustering(s: SparkSession, dir: String): DataFrame = {
    // no pre-distinct: coPurchasePairs' per-order collect_set dedups
    // (ok, pk) itself — the old join form needed the distinct, the
    // grouped form makes it a wasted exchange (optimization r18)
    val li = t(s, dir, "lineitem")
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
    val (tri, deg) = trianglesFromPairsAdj(coPurchasePairs(li))
    val perNode = perNodeTriCensus(tri)
    deg.filter(col("deg") >= 2)
      .join(perNode, Seq("node"), "left_outer")
      .select(col("deg"),
        coalesce(col("tri_count"), lit(0L)).as("tri_count"))
      .withColumn("cc_ppm",
        expr("(2000000 * tri_count) DIV (deg * (deg - 1))"))
      .groupBy(expr("cc_ppm DIV 10000").as("cc_band"))
      .agg(count(lit(1)).as("n_parts"), sum("tri_count").as("sum_tri"),
        min("deg").as("min_deg"), max("deg").as("max_deg"))
      .orderBy("cc_band")
  }

  /** Synchronous-LPA round count for [[qGraphCommunities]] (shared
    * with the unrolled oracle CTE chain so engine and replay can
    * never disagree on depth).
    */
  val lpaRounds = 4

  /** Community detection by SYNCHRONOUS label propagation (Raghavan,
    * Albert & Kumara 2007's LPA, made deterministic): every node
    * starts labeled with its own id; each round it adopts the label
    * with the highest count among its neighbors' PREVIOUS-round
    * labels, ties broken by the SMALLEST label — the engine-exact
    * tie-break that lets a SQL replay agree bit-for-bit (classic
    * asynchronous LPA breaks ties randomly and is irreproducible).
    * Fixed [[lpaRounds]] supersteps; the result census is the
    * community-size histogram (distinct size, community count) — a
    * bounded readout at any corpus size.
    *
    * Scale shape: each round is two partial-aggregatable shuffles of
    * at most m vote rows — (node, lab) count, then the per-node
    * argmax folded as `max(struct(cnt, -lab))` so no window (and no
    * whole-partition sort) is needed; hub fan-in compresses map-side
    * in the first aggregation. The label relation is node-dimension,
    * so AQE broadcasts it into the edge join when small and shuffles
    * on the 8-byte key when not. `localCheckpoint` after every round
    * cuts the iterative lineage — the same Pregel superstep
    * discipline as kcore/pagerank/bfs. O(rounds·m) total, no
    * driver-side state.
    */
  /** Node-count threshold under which [[lpaCensus]] BROADCASTS the
    * label relation into the per-round join (16 bytes/node — 4M nodes
    * ≈ 64 MB hashed).
    */
  val lpaBroadcastNodeCap = 4000000L

  /** Vote-exchange sizing for [[lpaCensus]]: early LPA rounds have
    * near-distinct (node, label) keys, so each reduce task's hash
    * aggregate holds ~rows/partitions groups — at the session default
    * (32) an sf10 round put ~6M groups in every task and fell back to
    * sort-based aggregation (measured 36-42x sf1 instead of ~10x).
    * Sizing the one per-round exchange to ~2M vote rows a task keeps
    * the aggregate hash-resident at any m without touching the global
    * shuffle-partition conf (a global raise was measured NEGATIVE —
    * it degrades the pair-generation join feeding this operator).
    */
  private def lpaVoteParts(spark: SparkSession, nEdges: Long): Int =
    math.max(spark.conf.get("spark.sql.shuffle.partitions").toInt,
      (nEdges / 2000000L).toInt)

  /** One round's raw vote stream: the edge relation joined to the
    * (routed) label relation on dst. Factored out so the spec can
    * plan-assert exactly the join the loop runs each round.
    */
  private[graft] def lpaVotes(edges: DataFrame, labels: DataFrame,
      route: DataFrame => DataFrame): DataFrame =
    edges
      .join(route(labels.select(col("node").as("dst"), col("lab"))),
        Seq("dst"))
      .select(col("src"), col("lab"))

  /** The shared synchronous-LPA superstep loop — both label-routing
    * strategies ([[lpaCensus]]'s broadcast/shuffle_hash and
    * [[lpaCensusBucketed]]'s stored-bucketing form) drive this same
    * body, so they can never diverge semantically.
    */
  private def lpaLoop(edges: DataFrame, labels0: DataFrame, rounds: Int,
      voteParts: Int, route: DataFrame => DataFrame): DataFrame = {
    var labels = labels0
    for (_ <- 1 to rounds) {
      // ONE m-row exchange per round: the raw (src, lab) vote stream
      // repartitions by src, which satisfies BOTH downstream
      // aggregations (ClusteredDistribution on (src, lab) and on src),
      // so the count and the argmax plan exchange-free on top of it.
      val votes = lpaVotes(edges, labels, route)
        .repartition(voteParts, col("src"))
      labels = votes
        .groupBy(col("src").as("node"), col("lab"))
        .agg(count(lit(1)).as("cnt"))
        .groupBy("node")
        .agg(max(struct(col("cnt"), (-col("lab")).as("neg"))).as("w"))
        .select(col("node"), (-col("w.neg")).as("lab"))
        .localCheckpoint()
    }
    labels.groupBy("lab").agg(count(lit(1)).as("sz"))
      .groupBy(col("sz").as("community_size"))
      .agg(count(lit(1)).as("n_communities"))
      .orderBy("community_size")
  }

  /** `pairs` must be pre-materialized (coPurchasePairs checkpoints) —
    * every round streams it twice via the edge union below.
    */
  private[graft] def lpaCensus(pairs: DataFrame, rounds: Int,
      broadcastNodeCap: Long = lpaBroadcastNodeCap): DataFrame = {
    // edges are DERIVED, never checkpointed: the doubled relation is a
    // pair of cheap map passes over the materialized pairs, and
    // checkpointing 2m rows beside the m-row pairs cache thrashed the
    // block store at sf10 (347 s to build vs 4 s at sf1 — an 83x
    // cliff the decade drill caught; recomputing the union per round
    // reads the same bytes without doubling residency).
    val edges = pairs.select(col("u").as("src"), col("v").as("dst"))
      .union(pairs.select(col("v").as("src"), col("u").as("dst")))
    val labels0 = pairs.select(col("u").as("node"))
      .union(pairs.select(col("v").as("node"))).distinct()
      .withColumn("lab", col("node")).localCheckpoint()
    val nNodes = labels0.count()
    val voteParts = lpaVoteParts(pairs.sparkSession, 2L * pairs.count())
    // The label relation is NODE-dimension (16 bytes a row): under the
    // cap it broadcasts, so the m-row edge relation never shuffles for
    // the join — the sf10 decade drill measured the alternative
    // (hash-partitioning edges by dst per round; localCheckpoint does
    // NOT carry partitioning into the next round's plan, so all four
    // rounds re-exchanged 239M rows: 30x wall for 10x data). Above the
    // cap (a billion-node graph) the label side routes shuffle_hash —
    // never sort-merge, which would drag the edge stream through a
    // per-round sort; at that scale a bucketed edge table is the real
    // deployment answer — [[lpaCensusBucketed]] below, the same
    // mechanism as sources.PlaneStore.saveBucketedTable.
    def route(d: DataFrame): DataFrame =
      if (nNodes <= broadcastNodeCap) broadcast(d) else d.hint("shuffle_hash")
    lpaLoop(edges, labels0, rounds, voteParts, route)
  }

  /** Bucket count for the stored LPA edge table. Sized so an
    * sf10-scale vote stream (~240M rows) lands ~2M rows a bucket — the
    * same hash-resident aggregate target as [[lpaVoteParts]].
    */
  private val lpaBuckets = 32

  /** Materialize the DOUBLED edge relation as a hash-bucketed table on
    * dst — the deployment layout for the above-broadcast-cap regime:
    * the per-round label join then plans with the edge side read
    * straight from the stored bucketing (zero edge exchanges across
    * ALL rounds; only the node-dimension label relation shuffles to
    * the bucket count each round). The one edge shuffle is paid once
    * at write time and amortized over every round of every query that
    * reads the table — the explicit repartition before the bucketed
    * write keeps the layout one file per bucket instead of
    * tasks×buckets fragments.
    */
  private[graft] def saveLpaEdgesBucketed(pairs: DataFrame, table: String,
      path: String, buckets: Int): Unit =
    pairs.select(col("u").as("src"), col("v").as("dst"))
      .union(pairs.select(col("v").as("src"), col("u").as("dst")))
      .repartition(buckets, col("dst"))
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .option("path", path)
      .bucketBy(buckets, "dst")
      .saveAsTable(table)

  /** LPA over a stored bucketed edge table ([[saveLpaEdgesBucketed]]):
    * the per-round join streams the edge scan on its stored
    * HashPartitioning(dst) while the label side is FORCED shuffle_hash
    * (this is the above-cap deployment form — broadcast is the
    * under-cap answer and sort-merge is forbidden per the measured
    * sf10 array-spill failure class). LpaBucketedSpec plan-asserts the
    * edge side of the round join carries zero exchanges, with an
    * unbucketed negative control.
    */
  private[graft] def lpaCensusBucketed(s: SparkSession, table: String,
      rounds: Int): DataFrame = {
    val edges = s.table(table)
    val voteParts = lpaVoteParts(s, edges.count())
    // the doubled relation has every node as a dst, so dst alone
    // seeds the label universe
    val labels0 = edges.select(col("dst").as("node")).distinct()
      .withColumn("lab", col("node")).localCheckpoint()
    lpaLoop(edges, labels0, rounds, voteParts, _.hint("shuffle_hash"))
  }

  /** Plan verdict for the bucketed round join: the ShuffledHashJoin's
    * STREAMED (edge) side must contain no shuffle exchange — the scan
    *'s stored bucketing satisfies the join's ClusteredDistribution
    * directly. Same AQE-off materialization discipline as
    * [[AdvancedQueries.smjShuffleFree]]; the df must not have
    * materialized its queryExecution before this call.
    */
  private[graft] def lpaEdgeSideShuffleFree(votes: DataFrame): Boolean = {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.execution.joins.ShuffledHashJoinExec
    val s = votes.sparkSession
    s.synchronized {
      val prev = s.conf.get("spark.sql.adaptive.enabled")
      s.conf.set("spark.sql.adaptive.enabled", "false")
      try votes.queryExecution.executedPlan
        .collectFirst { case j: ShuffledHashJoinExec => j }
        .exists(_.left.collect { case e: ShuffleExchangeExec => e }.isEmpty)
      finally s.conf.set("spark.sql.adaptive.enabled", prev)
    }
  }

  /** LPA communities over the part co-purchase graph — the operator a
    * curation pipeline runs right after triangles/clustering: tight
    * co-purchase communities are the "customers who bought these also
    * bought those" clusters recommendation and near-dup analysis feed
    * on. Reuses [[coPurchasePairs]].
    */
  private def qGraphCommunities(s: SparkSession, dir: String): DataFrame = {
    // no pre-distinct: coPurchasePairs' per-order collect_set dedups
    // (ok, pk) itself — the old join form needed the distinct, the
    // grouped form makes it a wasted exchange (optimization r18)
    val li = t(s, dir, "lineitem")
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
    lpaCensus(coPurchasePairs(li), lpaRounds)
  }

  /** The bucketed-edge deployment route under the same oracle: write
    * the doubled co-purchase edges ONCE as a dst-bucketed table (under
    * the Scratch contract), run the identical LPA loop over the stored
    * layout with the label side forced shuffle_hash, and pin the plan
    * claim in the OUTPUT — edge_scan_exchange_free comes from
    * inspecting the round join's physical plan, and the oracle asserts
    * it TRUE, so a layout regression that re-introduces the per-round
    * edge exchange fails the hash gate, not just a spec.
    */
  private def qGraphCommunitiesBucketed(s: SparkSession,
      dir: String): DataFrame = {
    // no pre-distinct: coPurchasePairs' collect_set dedups (see above)
    val li = t(s, dir, "lineitem")
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
    val path = graft.core.Scratch.dir(s, "lpa-edges")
    // per-run table name (token derived from the fresh scratch dir):
    // concurrent runs sharing a warehouse/metastore must not race on
    // one catalog entry; the table is dropped below once the loop has
    // materialized, so the catalog carries nothing between runs
    val token = java.lang.Integer.toHexString(
      scala.util.hashing.MurmurHash3.stringHash(path))
    val table = s"graft_lpa_edges_bucketed_$token"
    saveLpaEdgesBucketed(coPurchasePairs(li), table, s"$path/edges", lpaBuckets)
    val edges = s.table(table)
    val probe = s.table(table).select(col("dst").as("node")).distinct()
      .withColumn("lab", col("node"))
    val planOk = lpaEdgeSideShuffleFree(
      lpaVotes(edges, probe, _.hint("shuffle_hash")))
    // lpaCensusBucketed materializes every round (localCheckpoint), so
    // the returned census reads only the final checkpointed labels —
    // the table can be dropped before the caller ever executes it
    val out = lpaCensusBucketed(s, table, lpaRounds)
      .withColumn("edge_scan_exchange_free", lit(planOk))
    s.sql(s"DROP TABLE IF EXISTS $table")
    out
  }

  /** The communities oracle unrolls [[lpaRounds]] synchronous vote
    * rounds as a generated MATERIALIZED-CTE chain: per round, the
    * per-(node, label) neighbor-vote count, then the deterministic
    * argmax (count DESC, label ASC) via one window — the same
    * max-count/min-label law the engine folds without a window.
    */
  private def lpaOracle: String = {
    val sb = new StringBuilder
    sb.append(
      """WITH li AS MATERIALIZED (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
        |p AS MATERIALIZED (SELECT DISTINCT a.pk AS u, b.pk AS v FROM li a
        |  JOIN li b ON a.ok = b.ok AND a.pk < b.pk),
        |e AS MATERIALIZED (SELECT u AS src, v AS dst FROM p
        |  UNION ALL SELECT v, u FROM p),
        |l0 AS MATERIALIZED (SELECT DISTINCT src AS node, src AS lab FROM e)""".stripMargin)
    for (i <- 1 to lpaRounds) {
      sb.append(s""",
        |l$i AS MATERIALIZED (SELECT node, lab FROM (
        |  SELECT node, lab, row_number() OVER (
        |    PARTITION BY node ORDER BY cnt DESC, lab ASC) AS rn
        |  FROM (SELECT e.src AS node, l.lab, count(*) AS cnt
        |        FROM e JOIN l${i - 1} l ON e.dst = l.node
        |        GROUP BY e.src, l.lab) v) w WHERE rn = 1)""".stripMargin)
    }
    sb.append(s"""
      |SELECT CAST(sz AS BIGINT) AS community_size,
      |       CAST(count(*) AS BIGINT) AS n_communities
      |FROM (SELECT lab, count(*) AS sz FROM l$lpaRounds GROUP BY lab) c
      |GROUP BY sz ORDER BY community_size""".stripMargin)
    sb.toString
  }

  /** Probe-batch size for [[qGraphLinkpred]] — the construction-time
    * bound that keeps the wedge fan-out fixed at any corpus size
    * (shared with the oracle so the cap cannot drift).
    */
  val linkpredProbes = 100

  /** Common-neighbor link prediction over the part co-purchase graph
    * — for each probe part, the top-5 NON-adjacent parts ranked by
    * shared co-purchase neighbors (Liben-Nowell & Kleinberg 2003's
    * strongest simple baseline), with the exact neighborhood Jaccard
    * as floor-myriad. The candidate-generation readout behind
    * "customers who bought X also bought" recommendations.
    *
    * Scale shape — probe-batched, NOT all-pairs: all-pairs wedge
    * enumeration is Σ deg² rows (measured 298M at sf0.1 → 3B at
    * sf1); production link prediction scores a candidate batch, so
    * the probe set is an explicit deterministic slice
    * (partkey % 101 = 0, ordered, LIMIT [[linkpredProbes]]) — the
    * same bounded-broadcast contract as q_sim_knn_join. Total wedge
    * rows ≤ probes·maxdeg² regardless of corpus size; every step is
    * an equi-join keyed on an 8-byte part id (probe filter pushed
    * into the first hop as a broadcast join), the common-neighbor
    * count is one partial-aggregatable groupBy, non-adjacency is a
    * left_anti join against the edge list, and the per-probe top-5
    * window partitions by probe. On a heavy-tailed graph the
    * mid-hop fan-out would additionally cap per-node adjacency
    * lists (top-w by co-purchase weight); this graph's degree
    * sequence is near-uniform (max 222 vs avg 120 at sf0.1 —
    * q_graph_degree_dist is the pre-flight), so no cap binds.
    */
  private def qGraphLinkpred(s: SparkSession, dir: String): DataFrame = {
    // no pre-distinct: coPurchasePairs' per-order collect_set dedups
    // (ok, pk) itself — the old join form needed the distinct, the
    // grouped form makes it a wasted exchange (optimization r18)
    val li = t(s, dir, "lineitem")
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
    // shared checkpointed pair-gen (optimization r18): the inline
    // self-join form here was additionally LAZY — `edges` feeds four
    // consumers (deg, both hops, the anti-join), each re-deriving the
    // pair lineage when AQE stage reuse missed
    val pairs = coPurchasePairs(li)
      .select(col("u").as("x"), col("v").as("y"))
    val edges = pairs.select(col("x").as("a"), col("y").as("b"))
      .union(pairs.select(col("y").as("a"), col("x").as("b")))
    val deg = edges.groupBy("a").agg(count(lit(1)).as("deg"))
    val probes = t(s, dir, "part")
      .filter(pmod(col("p_partkey"), lit(101)) === 0)
      .select(col("p_partkey").as("u"))
      .orderBy("u").limit(linkpredProbes)
    val hop1 = broadcast(probes)
      .join(edges.select(col("a").as("u"), col("b").as("mid")), Seq("u"))
    val wedges = hop1
      .join(edges.select(col("a").as("mid"), col("b").as("v")), Seq("mid"))
      .filter(col("v") =!= col("u"))
    val cn = wedges.groupBy("u", "v").agg(count(lit(1)).as("cn"))
    val nonAdj = cn.join(edges.select(col("a").as("u"), col("b").as("v")),
      Seq("u", "v"), "left_anti")
    nonAdj
      .join(deg.select(col("a").as("u"), col("deg").as("du")), Seq("u"))
      .join(deg.select(col("a").as("v"), col("deg").as("dv")), Seq("v"))
      .withColumn("jac_myriad",
        floor(lit(10000L) * col("cn") / (col("du") + col("dv") - col("cn"))))
      .withColumn("rnk", row_number().over(
        Window.partitionBy("u").orderBy(desc("cn"), col("v"))))
      .filter(col("rnk") <= 5)
      .select(col("u"), col("v"), col("cn"), col("jac_myriad"), col("rnk"))
      .orderBy("u", "rnk")
  }

  /** Market-basket association rules over order baskets at the brand
    * grain (Agrawal & Srikant, VLDB'94): for every brand pair
    * co-occurring in an order, support, both directed confidences,
    * and lift — the classic "customers who bought X also bought Y"
    * scorer — top-20 by lift.
    *
    * Scale shape: the candidate-pair pass is an equi-join of the
    * per-order distinct brand set with itself on the order key, so
    * fan-out is C(basket, 2) per order — bounded by basket size (the
    * a-priori property: pair candidates come only from within a
    * basket), never corpus-quadratic. The brand dimension (25 rows at
    * every SF by the TPC-H brand grammar) rides broadcast joins for
    * the marginals, the order total is a 1-row broadcast, and top-20
    * is TakeOrderedAndProject — no global sort. Ratios are emitted as
    * ppm with a shared literal expression tree (each IEEE op
    * correctly rounded ⇒ engine-identical), ties broken by the pair
    * key.
    */
  private def qBasketRules(s: SparkSession, dir: String): DataFrame = {
    // Optimization r18 (guide §2.4, the coPurchasePairs move): the
    // original distinct + self-join on ok paid two exchanges and
    // re-derived the (ok, brand) lineage for each of its four
    // consumers. Baskets are ≤ 7 lines, so ONE groupBy(ok)
    // collect_set materializes the per-order distinct brand set
    // (checkpointed — supports, order count and pairs all read it),
    // pairs explode map-side from the sorted array (b1 < b2 by sort
    // order), and n_orders is the row count (every order has ≥ 1
    // line). Same supports/confidences/lifts bit-for-bit. Measured
    // 6.39 → 4.06 s (0.64x, medians of 3, cold subset isolation at
    // sf0.1); plans/r18/q_basket_rules_{before,after}.txt.
    val perOrder = t(s, dir, "lineitem")
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
      .join(broadcast(t(s, dir, "part")
        .select(col("p_partkey").as("pk"), col("p_brand").as("brand"))), Seq("pk"))
      .groupBy("ok").agg(sort_array(collect_set(col("brand"))).as("bs"))
      .localCheckpoint()
    val supp = perOrder.select(explode(col("bs")).as("brand"))
      .groupBy("brand").agg(count(lit(1)).as("supp"))
    val n = perOrder.agg(count(lit(1)).as("n_orders"))
    val pairs = perOrder
      .select(col("bs"), posexplode(col("bs")).as(Seq("i", "b1")))
      .select(col("b1"),
        explode(slice(col("bs"), col("i") + lit(2), size(col("bs")))).as("b2"))
      .groupBy("b1", "b2").agg(count(lit(1)).as("supp_pair"))
    pairs
      .join(broadcast(supp.select(col("brand").as("b1"), col("supp").as("supp_b1"))), Seq("b1"))
      .join(broadcast(supp.select(col("brand").as("b2"), col("supp").as("supp_b2"))), Seq("b2"))
      .crossJoin(broadcast(n))
      .select(col("b1"), col("b2"), col("supp_pair"), col("supp_b1"), col("supp_b2"),
        round(lit(1000000.0) * col("supp_pair") / col("supp_b1")).cast("long").as("conf12_ppm"),
        round(lit(1000000.0) * col("supp_pair") / col("supp_b2")).cast("long").as("conf21_ppm"),
        round(lit(1000000.0) * (col("supp_pair") / col("supp_b1"))
          * (col("n_orders") / col("supp_b2"))).cast("long").as("lift_ppm"))
      .orderBy(desc("lift_ppm"), col("b1"), col("b2"))
      .limit(20)
  }

  /** k-core decomposition census over the part co-purchase graph —
    * the graph-family's density primitive next to triangles/PageRank:
    * the k-core is the maximal subgraph where every node keeps ≥ k
    * in-core neighbors (Seidman 1983), found by iterated peeling of
    * sub-k nodes. Three k values bracket this graph's degree range
    * ([[kcoreKs]]: whole graph / light peel / deep cascade),
    * reporting core size, core edges, and an attested convergence
    * flag per k.
    *
    * Each peel round is one degree groupBy + two semi-joins on the
    * node id — O(E) per round, nothing driver-side but the loop
    * counter — with `localCheckpoint` truncating lineage between
    * rounds (the componentsFrom discipline). Rounds are capped at 16:
    * peeling shrinks the edge set monotonically, so an early Spark
    * fixpoint equals the oracle's full 16 unrolled stages (extra
    * stages are no-ops), and a non-converged cap is REPORTED
    * (converged=false) and still hash-matches — the same
    * deterministic sequence truncated at the same stage. The edge
    * count is the fixpoint test: monotone shrinking makes count
    * equality exact.
    */
  /** Peel thresholds for [[qGraphKcore]], shared with the unrolled
    * oracle so the census axes cannot drift. Chosen against the
    * measured degree range (~40-220, median ~115): 30 keeps the whole
    * graph (1 round), 60 peels lightly (2 rounds), 80 drives a real
    * 6-round cascade that still leaves a proper core at sf0.01+ (85
    * was measured to collapse the sf0.1 graph only after 39 rounds -
    * past any sane cap - and was rejected).
    */
  val kcoreKs = Seq(30, 60, 80)

  private def qGraphKcore(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // no pre-distinct: coPurchasePairs' per-order collect_set dedups
    // (ok, pk) itself — the old join form needed the distinct, the
    // grouped form makes it a wasted exchange (optimization r18)
    val li = t(s, dir, "lineitem")
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
    // shared pair-gen (optimization r18) — same distinct (u < v) edge
    // set the inline self-join produced, one exchange fewer
    val edges0 = coPurchasePairs(li)
    // Ascending thresholds peel NESTED cores (k' > k ⇒ the k'-core is a
    // subgraph of the k-core), so each k starts from the PREVIOUS k's
    // converged core instead of the full edge list — identical results
    // by containment. Measured NEUTRAL at sf0.1 (k=30 keeps the whole
    // graph and per-round fixed costs dominate there); the reuse pays
    // where it must — corpora whose successive cores actually shrink,
    // where re-peeling from the full edge list is the wasted work.
    // kcoreKs is sorted ascending; a require pins the assumption.
    require(kcoreKs == kcoreKs.sorted, "k-core reuse needs ascending ks")
    var startEdges = edges0
    val rows = kcoreKs.map { k =>
      var edges = startEdges
      var prev = edges.count()
      var converged = prev == 0L
      var rounds = 0
      while (!converged && rounds < 16) {
        // `keep` feeds BOTH semi-joins; an explicit persist was A/B'd
        // NEUTRAL here (BASELINE.md round-18): AQE's runtime stage
        // reuse already unifies the two canonically-equal degree-agg
        // exchanges, so the cache write only added overhead
        val keep = edges.select(col("u").as("node"))
          .union(edges.select(col("v").as("node")))
          .groupBy("node").agg(count(lit(1)).as("d"))
          .filter(col("d") >= k).select("node")
        val next = edges
          .join(keep.select(col("node").as("u")), Seq("u"), "left_semi")
          .join(keep.select(col("node").as("v")), Seq("v"), "left_semi")
          .localCheckpoint()
        val n = next.count()
        converged = n == prev
        prev = n
        edges = next
        rounds += 1
      }
      val nCore = edges.select(col("u").as("node"))
        .union(edges.select(col("v").as("node"))).distinct().count()
      startEdges = edges
      (k, nCore, prev, converged)
    }
    rows.toDF("k", "n_core", "core_edges", "converged").orderBy("k")
  }

  /** Hop cap for [[qGraphBfs]], shared with the unrolled oracle. */
  val bfsMaxHops = 6

  /** Single-source BFS distance census over the bipartite
    * customer–supplier co-purchase graph (the q_graph_pagerank edge
    * set): frontier expansion from the smallest node id, one
    * equi-join + distinct + anti-join per hop (all shuffles on the
    * 8-byte node id, partial-aggregatable, nothing driver-side but
    * the 1-row source pull and per-round counts), localCheckpoint
    * between rounds to cut the iterative lineage — the Pregel
    * superstep discipline shared with q_graph_kcore/pagerank. Output
    * is the per-distance node census plus an always-present d = -1
    * row counting edge-endpoint nodes never reached under the
    * [[bfsMaxHops]] cap. The oracle unrolls the same frontier algebra
    * as a generated MATERIALIZED-CTE chain (EXCEPT against the
    * accumulated distance set per stage); an early Spark fixpoint
    * makes the remaining oracle stages empty, and empty levels are
    * filtered on both sides, so truncation points agree.
    */
  private def qGraphBfs(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val pairs = t(s, dir, "orders")
      .select(col("o_orderkey"), col("o_custkey"))
      .join(t(s, dir, "lineitem").select(col("l_orderkey"), col("l_suppkey")),
        col("o_orderkey") === col("l_orderkey"))
      .select((col("o_custkey") * 2).as("c"), (col("l_suppkey") * 2 + 1).as("sp"))
      .distinct()
    val edges = pairs.select(col("c").as("src"), col("sp").as("dst"))
      .union(pairs.select(col("sp").as("src"), col("c").as("dst")))
      .localCheckpoint()
    val source = edges.agg(min("src")).head().getLong(0)
    bfsCensus(s, edges, source, bfsMaxHops)
  }

  /** The frontier-expansion loop behind [[qGraphBfs]], on an arbitrary
    * directed (src, dst) edge relation — package-visible so the spec
    * can drive it over planted path/disconnected fixtures.
    */
  private[graft] def bfsCensus(s: SparkSession, edges: DataFrame,
      source: Long, maxHops: Int): DataFrame = {
    import s.implicits._
    var dist = Seq((source, 0)).toDF("node", "d").localCheckpoint()
    var frontier = dist.select("node")
    var round = 0
    var done = false
    while (round < maxHops && !done) {
      round += 1
      val next = frontier.join(edges, col("node") === col("src"))
        .select(col("dst").as("node")).distinct()
        .join(dist, Seq("node"), "left_anti")
        .withColumn("d", lit(round))
        .localCheckpoint()
      if (next.isEmpty) done = true
      else {
        dist = dist.union(next).localCheckpoint()
        frontier = next.select("node")
      }
    }
    // node universe = src ∪ dst: on the symmetrized co-purchase graph the
    // two sides coincide, but the helper is package-visible for arbitrary
    // directed relations, where sink-only nodes (dst-only) must still be
    // counted in the d=-1 row
    val unreachedCnt = edges.select(col("src").as("node"))
      .union(edges.select(col("dst").as("node"))).distinct()
      .join(dist, Seq("node"), "left_anti").count()
    dist.groupBy("d").agg(count(lit(1)).as("n_nodes"))
      .union(Seq((-1, unreachedCnt)).toDF("d", "n_nodes"))
      .orderBy("d")
  }

  private def bfsOracle: String = {
    val sb = new StringBuilder
    sb.append(
      """WITH p AS MATERIALIZED (SELECT DISTINCT o_custkey * 2 AS c, l_suppkey * 2 + 1 AS sp
        |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
        |edges AS MATERIALIZED (SELECT c AS src, sp AS dst FROM p
        |  UNION ALL SELECT sp, c FROM p),
        |fr0 AS MATERIALIZED (SELECT min(src) AS node FROM edges),
        |dist0 AS MATERIALIZED (SELECT node FROM fr0)""".stripMargin)
    for (i <- 1 to bfsMaxHops) {
      sb.append(s""",
        |fr$i AS MATERIALIZED (
        |  (SELECT DISTINCT e.dst AS node FROM fr${i - 1} f JOIN edges e ON f.node = e.src)
        |  EXCEPT (SELECT node FROM dist${i - 1})),
        |dist$i AS MATERIALIZED (SELECT node FROM dist${i - 1}
        |  UNION ALL SELECT node FROM fr$i)""".stripMargin)
    }
    val levels = (0 to bfsMaxHops)
      .map(i => s"SELECT $i AS d, count(*) AS n_nodes FROM fr$i")
      .mkString("\nUNION ALL ")
    sb.append(s""",
      |lv AS ($levels),
      |unreached AS (SELECT -1 AS d, count(*) AS n_nodes FROM (
      |  SELECT src AS node FROM edges UNION SELECT dst FROM edges) n
      |  WHERE n.node NOT IN (SELECT node FROM dist$bfsMaxHops))
      |SELECT d, n_nodes FROM lv WHERE n_nodes > 0
      |UNION ALL SELECT d, n_nodes FROM unreached
      |ORDER BY d""".stripMargin)
    sb.toString
  }

  /** Degree assortativity (Newman, PRL 2002) over the bipartite
    * co-purchase graph: the Pearson correlation of endpoint degrees
    * across directed edges, assembled from exact int64 power sums
    * (Σd_u, Σd_v, Σd_u·d_v, Σd_u², Σd_v² over edges — degrees are
    * longs, so every sum is order-invariant) and emitted as ppm by
    * ONE double expression — the q_evt_acf moment discipline on a
    * graph statistic. Plan: one degree groupBy + two broadcast-sized
    * joins of the degree relation onto the edge list, then a single
    * partial-aggregatable global fold. Negative r = disassortative
    * mixing (hubs attach to leaves), the expected shape for a
    * customer–supplier graph.
    */
  private def qGraphAssortativity(s: SparkSession, dir: String): DataFrame = {
    val pairs = t(s, dir, "orders")
      .select(col("o_orderkey"), col("o_custkey"))
      .join(t(s, dir, "lineitem").select(col("l_orderkey"), col("l_suppkey")),
        col("o_orderkey") === col("l_orderkey"))
      .select((col("o_custkey") * 2).as("c"), (col("l_suppkey") * 2 + 1).as("sp"))
      .distinct()
    val edges = pairs.select(col("c").as("src"), col("sp").as("dst"))
      .union(pairs.select(col("sp").as("src"), col("c").as("dst")))
    val deg = edges.groupBy(col("src").as("node")).agg(count(lit(1)).as("d"))
    val e2 = edges
      .join(deg.select(col("node").as("src"), col("d").as("du")), Seq("src"))
      .join(deg.select(col("node").as("dst"), col("d").as("dv")), Seq("dst"))
    // moment SUMS are exact int64 (suv ≤ edges·maxdeg² stays under
    // 2^63 here); the m·Σ products would NOT, so every sum converts
    // to double FIRST and the whole r expression is one IEEE tree —
    // the oracle casts at the same points (DuckDB's HUGEINT sums
    // would otherwise compute m·suv exactly and round differently)
    def d(c: Column) = c.cast("double")
    e2.agg(count(lit(1)).as("m"),
        sum("du").as("su"), sum("dv").as("sv"),
        sum(col("du") * col("dv")).as("suv"),
        sum(col("du") * col("du")).as("suu"),
        sum(col("dv") * col("dv")).as("svv"))
      .select(col("m"),
        floor(lit(1000000.0) * (d(col("m")) * d(col("suv")) - d(col("su")) * d(col("sv"))) /
          sqrt((d(col("m")) * d(col("suu")) - d(col("su")) * d(col("su"))) *
            (d(col("m")) * d(col("svv")) - d(col("sv")) * d(col("sv")))))
          .cast("long").as("r_ppm"))
  }

  /** The kcore oracle unrolls the peel as a generated 16-stage CTE
    * chain per k (no RECURSIVE: shrinking working sets don't fit the
    * union-only recursion model; a Spark fixpoint before stage 16
    * makes the remaining stages no-ops, so the truncation points
    * agree — see qGraphKcore's scaladoc).
    */
  private def kcoreOracle: String = {
    val ks = kcoreKs
    val stages = 16
    val sb = new StringBuilder
    sb.append("WITH li AS MATERIALIZED (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),\n")
    sb.append("e0 AS MATERIALIZED (SELECT DISTINCT a.pk AS u, b.pk AS v FROM li a " +
      "JOIN li b ON a.ok = b.ok AND a.pk < b.pk)")
    for (k <- ks; i <- 1 to stages) {
      val prev = if (i == 1) "e0" else s"e${i - 1}_$k"
      sb.append(s""",
        |s${i}_$k AS MATERIALIZED (SELECT node FROM (SELECT u AS node FROM $prev
        |  UNION ALL SELECT v FROM $prev) t GROUP BY node HAVING count(*) >= $k),
        |e${i}_$k AS MATERIALIZED (SELECT e.u, e.v FROM $prev e
        |  JOIN s${i}_$k a ON e.u = a.node JOIN s${i}_$k b ON e.v = b.node)""".stripMargin)
    }
    val selects = ks.map { k =>
      s"""SELECT $k AS k,
         |  (SELECT count(*) FROM (SELECT u AS node FROM e${stages}_$k
         |     UNION SELECT v FROM e${stages}_$k) t) AS n_core,
         |  (SELECT count(*) FROM e${stages}_$k) AS core_edges,
         |  (SELECT count(*) FROM e${stages}_$k) =
         |    (SELECT count(*) FROM e${stages - 1}_$k) AS converged""".stripMargin
    }
    sb.append("\n" + selects.mkString("\nUNION ALL\n") + "\nORDER BY k")
    sb.toString
  }

  val registry: Seq[QueryDef] = Seq(
    QueryDef("q_graph_assortativity", qGraphAssortativity,
      """WITH p AS (SELECT DISTINCT o_custkey * 2 AS c, l_suppkey * 2 + 1 AS sp
        |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
        |edges AS (SELECT c AS src, sp AS dst FROM p UNION ALL SELECT sp, c FROM p),
        |deg AS (SELECT src AS node, CAST(count(*) AS BIGINT) AS d FROM edges GROUP BY 1),
        |e2 AS (SELECT du.d AS du, dv.d AS dv FROM edges e
        |  JOIN deg du ON e.src = du.node JOIN deg dv ON e.dst = dv.node),
        |s AS (SELECT CAST(count(*) AS BIGINT) AS m,
        |  CAST(sum(du) AS BIGINT) AS su, CAST(sum(dv) AS BIGINT) AS sv,
        |  CAST(sum(du * dv) AS BIGINT) AS suv,
        |  CAST(sum(du * du) AS BIGINT) AS suu,
        |  CAST(sum(dv * dv) AS BIGINT) AS svv FROM e2)
        |SELECT m, CAST(floor(1000000.0 *
        |    (CAST(m AS DOUBLE) * CAST(suv AS DOUBLE) - CAST(su AS DOUBLE) * CAST(sv AS DOUBLE)) /
        |    sqrt((CAST(m AS DOUBLE) * CAST(suu AS DOUBLE) - CAST(su AS DOUBLE) * CAST(su AS DOUBLE)) *
        |         (CAST(m AS DOUBLE) * CAST(svv AS DOUBLE) - CAST(sv AS DOUBLE) * CAST(sv AS DOUBLE))))
        |  AS BIGINT) AS r_ppm
        |FROM s""".stripMargin),
    QueryDef("q_graph_bfs", qGraphBfs, bfsOracle, eager = true), // edge-list checkpoint + count
    QueryDef("q_graph_kcore", qGraphKcore, kcoreOracle,
      eager = true), // edge-list checkpoint + count
    QueryDef("q_graph_communities", qGraphCommunities, lpaOracle,
      eager = true), // LPA supersteps: checkpoints + counts per round
    // identical census + the TRUE literal pinning the plan verdict
    // (same convention as q_layout_bucket_join)
    QueryDef("q_graph_communities_bucketed", qGraphCommunitiesBucketed,
      s"""SELECT community_size, n_communities,
         |  TRUE AS edge_scan_exchange_free
         |FROM ($lpaOracle) lpa ORDER BY community_size""".stripMargin,
      eager = true), // bucketed-table write + plan probe at construction
    QueryDef("q_basket_rules", qBasketRules,
      """WITH items AS (
        |  SELECT DISTINCT l.l_orderkey AS ok, p.p_brand AS brand
        |  FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey),
        |supp AS (SELECT brand, count(*) AS supp FROM items GROUP BY 1),
        |n AS (SELECT count(DISTINCT ok) AS n_orders FROM items),
        |pairs AS (
        |  SELECT a.brand AS b1, b.brand AS b2, count(*) AS supp_pair
        |  FROM items a JOIN items b ON a.ok = b.ok AND a.brand < b.brand
        |  GROUP BY 1, 2)
        |SELECT b1, b2, supp_pair, s1.supp AS supp_b1, s2.supp AS supp_b2,
        |  CAST(round(1000000.0 * supp_pair / s1.supp) AS BIGINT) AS conf12_ppm,
        |  CAST(round(1000000.0 * supp_pair / s2.supp) AS BIGINT) AS conf21_ppm,
        |  CAST(round(1000000.0 * (supp_pair / s1.supp)
        |       * (n.n_orders / s2.supp)) AS BIGINT) AS lift_ppm
        |FROM pairs JOIN supp s1 ON pairs.b1 = s1.brand
        |           JOIN supp s2 ON pairs.b2 = s2.brand
        |           CROSS JOIN n
        |ORDER BY lift_ppm DESC, b1, b2 LIMIT 20""".stripMargin,
      eager = true), // per-order brand-set checkpoint at construction (r18)
    QueryDef("q_graph_pagerank", qGraphPagerank, prOracle,
      eager = true), // edge-degree checkpoint at construction
    // HITS replay: two unrolled rounds of the coupled recursion with
    // the integer max-normalization.
    QueryDef("q_graph_hits", qGraphHits,
      """WITH pairs AS (SELECT DISTINCT o_custkey AS c, l_suppkey AS sp
        |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
        |h0 AS (SELECT DISTINCT c, CAST(1000000 AS BIGINT) AS h FROM pairs),
        |a1r AS (SELECT sp, CAST(sum(h) AS BIGINT) AS a_raw
        |        FROM pairs JOIN h0 USING (c) GROUP BY sp),
        |a1 AS (SELECT sp, (a_raw * 1000000)
        |         // (SELECT max(a_raw) FROM a1r) AS a FROM a1r),
        |h1r AS (SELECT c, CAST(sum(a) AS BIGINT) AS h_raw
        |        FROM pairs JOIN a1 USING (sp) GROUP BY c),
        |h1 AS (SELECT c, (h_raw * 1000000)
        |         // (SELECT max(h_raw) FROM h1r) AS h FROM h1r),
        |a2r AS (SELECT sp, CAST(sum(h) AS BIGINT) AS a_raw
        |        FROM pairs JOIN h1 USING (c) GROUP BY sp),
        |a2 AS (SELECT sp, (a_raw * 1000000)
        |         // (SELECT max(a_raw) FROM a2r) AS a FROM a2r),
        |h2r AS (SELECT c, CAST(sum(a) AS BIGINT) AS h_raw
        |        FROM pairs JOIN a2 USING (sp) GROUP BY c),
        |h2 AS (SELECT c, (h_raw * 1000000)
        |         // (SELECT max(h_raw) FROM h2r) AS h FROM h2r),
        |ta AS (SELECT 'authority' AS side, sp AS key, a AS score_micro
        |       FROM a2 ORDER BY a DESC, sp LIMIT 10),
        |th AS (SELECT 'hub' AS side, c AS key, h AS score_micro
        |       FROM h2 ORDER BY h DESC, c LIMIT 10)
        |SELECT side, key, score_micro FROM
        |  (SELECT * FROM ta UNION ALL SELECT * FROM th)
        |ORDER BY side, score_micro DESC, key""".stripMargin,
      eager = true), // pair-list checkpoint at construction
    QueryDef("q_graph_linkpred", qGraphLinkpred,
      s"""WITH li AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
         |p AS (SELECT DISTINCT a.pk AS x, b.pk AS y
         |  FROM li a JOIN li b ON a.ok = b.ok AND a.pk < b.pk),
         |e AS (SELECT x AS a, y AS b FROM p UNION ALL SELECT y AS a, x AS b FROM p),
         |deg AS (SELECT a AS node, count(*) AS deg FROM e GROUP BY a),
         |probes AS (SELECT p_partkey AS u FROM part WHERE p_partkey % 101 = 0
         |  ORDER BY p_partkey LIMIT $linkpredProbes),
         |w AS (SELECT pr.u, n2.b AS v, count(*) AS cn
         |  FROM probes pr JOIN e n1 ON n1.a = pr.u JOIN e n2 ON n2.a = n1.b
         |  WHERE n2.b <> pr.u GROUP BY 1, 2),
         |na AS (SELECT w.u, w.v, w.cn FROM w
         |  LEFT JOIN e ON e.a = w.u AND e.b = w.v WHERE e.a IS NULL),
         |sc AS (SELECT na.u, na.v, na.cn,
         |  CAST(floor(10000 * na.cn / (d1.deg + d2.deg - na.cn)) AS BIGINT) AS jac_myriad,
         |  CAST(row_number() OVER (PARTITION BY na.u ORDER BY na.cn DESC, na.v) AS INTEGER) AS rnk
         |  FROM na JOIN deg d1 ON d1.node = na.u JOIN deg d2 ON d2.node = na.v)
         |SELECT u, v, cn, jac_myriad, rnk FROM sc WHERE rnk <= 5
         |ORDER BY u, rnk""".stripMargin,
      eager = true), // shared pair-gen checkpoint at construction (r18)
    QueryDef("q_graph_triangles", qGraphTriangles,
      """WITH li AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
        |p AS (SELECT DISTINCT a.pk AS u, b.pk AS v
        |  FROM li a JOIN li b ON a.ok = b.ok AND a.pk < b.pk),
        |deg AS (SELECT node, count(*) AS deg FROM (
        |  SELECT u AS node FROM p UNION ALL SELECT v AS node FROM p) GROUP BY node),
        |keyed AS (SELECT u, v, d1.deg * 4294967296 + u AS ku, d2.deg * 4294967296 + v AS kv
        |  FROM p JOIN deg d1 ON d1.node = u JOIN deg d2 ON d2.node = v),
        |e AS (SELECT CASE WHEN ku < kv THEN u ELSE v END AS src,
        |             CASE WHEN ku < kv THEN v ELSE u END AS dst,
        |             greatest(ku, kv) AS kdst FROM keyed),
        |tri AS (SELECT w1.src AS apex, w1.dst AS lo, w2.dst AS hi
        |  FROM e w1 JOIN e w2 ON w1.src = w2.src AND w1.kdst < w2.kdst
        |  JOIN e c ON c.src = w1.dst AND c.dst = w2.dst),
        |tc AS (SELECT node, count(*) AS tri_count FROM (
        |  SELECT apex AS node FROM tri UNION ALL SELECT lo FROM tri
        |  UNION ALL SELECT hi FROM tri) GROUP BY node)
        |SELECT COALESCE(tc.tri_count, 0) AS tri_count, count(*) AS n_parts
        |FROM deg LEFT JOIN tc USING (node)
        |GROUP BY 1 ORDER BY tri_count""".stripMargin,
      eager = true), // edge-list checkpoint + count
    // local clustering coefficient banded census — same degree-ordered
    // triangle enumeration, cc in exact BIGINT ppm floor-division
    QueryDef("q_graph_clustering", qGraphClustering,
      """WITH li AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
        |p AS (SELECT DISTINCT a.pk AS u, b.pk AS v
        |  FROM li a JOIN li b ON a.ok = b.ok AND a.pk < b.pk),
        |deg AS (SELECT node, count(*) AS deg FROM (
        |  SELECT u AS node FROM p UNION ALL SELECT v AS node FROM p) GROUP BY node),
        |keyed AS (SELECT u, v, d1.deg * 4294967296 + u AS ku, d2.deg * 4294967296 + v AS kv
        |  FROM p JOIN deg d1 ON d1.node = u JOIN deg d2 ON d2.node = v),
        |e AS (SELECT CASE WHEN ku < kv THEN u ELSE v END AS src,
        |             CASE WHEN ku < kv THEN v ELSE u END AS dst,
        |             greatest(ku, kv) AS kdst FROM keyed),
        |tri AS (SELECT w1.src AS apex, w1.dst AS lo, w2.dst AS hi
        |  FROM e w1 JOIN e w2 ON w1.src = w2.src AND w1.kdst < w2.kdst
        |  JOIN e c ON c.src = w1.dst AND c.dst = w2.dst),
        |tc AS (SELECT node, count(*) AS tri_count FROM (
        |  SELECT apex AS node FROM tri UNION ALL SELECT lo FROM tri
        |  UNION ALL SELECT hi FROM tri) GROUP BY node),
        |cc AS (SELECT deg.deg, COALESCE(tc.tri_count, 0) AS tri_count,
        |  (2000000 * COALESCE(tc.tri_count, 0)) // (deg.deg * (deg.deg - 1)) AS cc_ppm
        |  FROM deg LEFT JOIN tc USING (node) WHERE deg.deg >= 2)
        |SELECT cc_ppm // 10000 AS cc_band, count(*) AS n_parts,
        |  CAST(sum(tri_count) AS BIGINT) AS sum_tri,
        |  min(deg) AS min_deg, max(deg) AS max_deg
        |FROM cc GROUP BY 1 ORDER BY cc_band""".stripMargin,
      eager = true), // edge-list checkpoint at construction
    QueryDef("q_graph_degree_dist", qGraphDegreeDist,
      """WITH p AS (SELECT DISTINCT o_custkey * 2 AS c, l_suppkey * 2 + 1 AS sp
        |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
        |deg AS (SELECT node, count(*) AS deg FROM (
        |  SELECT c AS node FROM p UNION ALL SELECT sp AS node FROM p) GROUP BY node)
        |SELECT CASE WHEN node % 2 = 0 THEN 'customer' ELSE 'supplier' END AS node_type,
        |  CAST(length(bin(deg)) - 1 AS INTEGER) AS bucket,
        |  count(*) AS n_nodes,
        |  min(deg) AS min_deg, max(deg) AS max_deg,
        |  CAST(sum(deg) AS BIGINT) AS sum_deg
        |FROM deg GROUP BY 1, 2 ORDER BY node_type, bucket""".stripMargin),
  )
}
