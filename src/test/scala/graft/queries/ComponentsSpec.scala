package graft.queries

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Large-star/small-star connected components: correctness on planted
  * graphs and the O(log n) round bound on the adversarial long-chain
  * case that defeats plain min-label propagation (which needs
  * graph-diameter rounds — 49 for the 50-node path below).
  */
class ComponentsSpec extends SparkSpec {
  import spark.implicits._

  private def run(pairs: Seq[(Long, Long)]): (Map[Long, Long], Int) = {
    val df = pairs.toDF("doc_a", "doc_b")
    val (comp, rounds) = DedupQueries.componentsFrom(df)
    val m = comp.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    (m, rounds)
  }

  test("50-node path graph converges in O(log n) rounds to one component") {
    val chain = (0L until 49L).map(i => (i, i + 1))
    val (comp, rounds) = run(chain)
    assert(comp.size == 50)
    assert(comp.values.toSet == Set(0L))
    // ceil(log2 50) = 6; allow a small constant — far under the
    // diameter bound (49 rounds) of min-label propagation
    assert(rounds <= 9, s"expected <= 9 star rounds, got $rounds")
  }

  test("disjoint clusters keep separate min roots") {
    // two triangles + an isolated edge, shuffled pair order
    val pairs = Seq((12L, 10L), (10L, 11L), (11L, 12L),
      (20L, 22L), (21L, 20L), (22L, 21L), (31L, 30L))
    val (comp, _) = run(pairs)
    assert(comp == Map(10L -> 10L, 11L -> 10L, 12L -> 10L,
      20L -> 20L, 21L -> 20L, 22L -> 20L, 30L -> 30L, 31L -> 30L))
  }

  test("star fixpoint is stable: a pre-contracted star converges fast") {
    val star = (1L to 8L).map(i => (0L, i))
    val (comp, rounds) = run(star)
    assert(comp.values.toSet == Set(0L))
    assert(rounds <= 2)
  }

  test("random graphs match a union-find oracle") {
    val rnd = new scala.util.Random(7)
    (0 until 3).foreach { trial =>
      val n = 60
      val pairs = Seq.fill(45)((rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
        .filter { case (a, b) => a != b }
      // driver-side union-find oracle
      val parent = Array.tabulate(n)(identity)
      def find(x: Int): Int = { if (parent(x) != x) parent(x) = find(parent(x)); parent(x) }
      pairs.foreach { case (a, b) =>
        val (ra, rb) = (find(a.toInt), find(b.toInt))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val nodes = pairs.flatMap(p => Seq(p._1, p._2)).distinct
      // canonical root = min node id of the component
      val expected = nodes.map { v =>
        val root = find(v.toInt)
        v -> nodes.filter(w => find(w.toInt) == root).min
      }.toMap
      val (got, rounds) = run(pairs)
      assert(got == expected, s"trial $trial mismatch")
      assert(rounds <= 10, s"trial $trial took $rounds rounds")
    }
  }

  test("empty pair set yields empty assignment in zero rounds") {
    val empty = spark.emptyDataset[(Long, Long)].toDF("doc_a", "doc_b")
    val (comp, rounds) = DedupQueries.componentsFrom(empty)
    assert(comp.isEmpty)
    assert(rounds == 0)
  }

  test("cluster split is leakage-free: no near-dup pair straddles a split boundary") {
    val dir = "/root/testdata/sf0.001"
    // recompute the pair graph + per-doc split assignment the query
    // aggregates away, and assert both endpoints of EVERY near-dup
    // pair land in the same split — the property the operator exists for
    val pairs = graft.SparkEntry.queries("q_dedup_jaccard_pairs")(spark, dir)
      .select(col("doc_a"), col("doc_b")).persist()
    val (comp, _) = DedupQueries.componentsFrom(pairs)
    val splitOf = graft.queries.Q.t(spark, dir, "documents").select("doc_id")
      .join(comp, Seq("doc_id"), "left")
      .select(col("doc_id"),
        (coalesce(col("component"), col("doc_id")) % 10).as("m"))
      .withColumn("split", when(col("m") < 8, "train")
        .when(col("m") === 8, "val").otherwise("test"))
      .select("doc_id", "split")
    val straddling = pairs
      .join(splitOf.withColumnRenamed("doc_id", "doc_a")
        .withColumnRenamed("split", "split_a"), "doc_a")
      .join(splitOf.withColumnRenamed("doc_id", "doc_b")
        .withColumnRenamed("split", "split_b"), "doc_b")
      .filter(col("split_a") =!= col("split_b"))
      .count()
    pairs.unpersist()
    assert(straddling == 0L, s"$straddling near-dup pairs cross a split boundary")
    // and the census totals partition the corpus
    val census = graft.SparkEntry.queries("q_dedup_cluster_split")(spark, dir).collect()
    val nDocs = census.map(_.getAs[Long]("n_docs")).sum
    assert(nDocs == graft.queries.Q.t(spark, dir, "documents").count())
    assert(census.map(_.getAs[String]("split")).toSet == Set("train", "val", "test"))
  }
}
