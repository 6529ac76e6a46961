package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.ops.{Cluster, Dedup}
import graft.sources.Tables

class ClusterSpec extends AnyFunSuite {
  import SparkTestSession._
  import spark.implicits._

  test("dedupClusters computes no checkpoint from two stages at once") {
    // the edges were a lazy checkpoint read by the linked-id set and the
    // forest, and each round's stepped labels one read by both sides of
    // the jump self-join; the pairs arrive materialized and the jump is
    // a window over one pass
    val docs = Tables.documents(spark, sf)
    val pairs = Dedup.ngramJaccard(docs)
    val twice = StageReads.overlapping(spark) {
      val fam = Cluster.dedupClusters(docs, pairs)
      assert(fam.filter(col("doc_id") =!= col("cluster_id")).count() > 0,
        "no near-dup family in the fixture")
    }
    assert(twice.isEmpty, s"computed by two stages at once: $twice")
  }

  test("connected components: chain, clique, and singleton resolve to min ids") {
    // components: {1,2,3,4} (a path — needs propagation across hops),
    // {10,11,12} (a triangle), {99} (isolated)
    val nodes = Seq(1L, 2L, 3L, 4L, 10L, 11L, 12L, 99L).toDF("id")
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L), (11L, 12L), (10L, 12L))
      .toDF("id1", "id2")
    val comp = Cluster.connectedComponents(nodes, edges)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(comp == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L, 12L -> 10L, 99L -> 99L))
  }

  test("cluster purity/Rand replay from the family assignment and the labels") {
    val docs = Tables.documents(spark, sf)
    val fam = Cluster.dedupClusters(docs,
        Dedup.ngramJaccard(docs, n = 3, threshold = 0.8, maxDF = 50))
      .join(docs.select(col("doc_id"), col("source")), "doc_id")
      .collect().map(r => (r.getAs[Long]("cluster_id"), r.getAs[String]("source")))
    val n = fam.length.toLong
    def c2(x: Long) = x * (x - 1) / 2
    val fl = fam.groupBy(identity).view.mapValues(_.length.toLong).toMap
    val pf = fam.groupBy(_._1).view.mapValues(_.length.toLong).toMap
    val pl = fam.groupBy(_._2).view.mapValues(_.length.toLong).toMap
    val a = fl.values.map(c2).sum
    val sameF = pf.values.map(c2).sum
    val sameL = pl.values.map(c2).sum
    val pureSum = fam.groupBy(_._1).values
      .map(g => g.groupBy(_._2).values.map(_.length).max.toLong).sum
    val t = c2(n)
    val r = SparkEntry.queries("dedup_cluster_purity")(spark, sf).head()
    assert(r.getAs[Long]("n_docs") == n)
    assert(r.getAs[Long]("n_families") == pf.size.toLong)
    assert(r.getAs[Long]("n_labels") == pl.size.toLong)
    assert(r.getAs[Long]("purity_u4") == pureSum * 10000L / n)
    assert(r.getAs[Long]("rand_u4") == (t - sameF - sameL + 2 * a) * 10000L / t)
    // bounds: both live in [0, 10000]
    assert(r.getAs[Long]("purity_u4") >= 0L && r.getAs[Long]("purity_u4") <= 10000L)
    assert(r.getAs[Long]("rand_u4") >= 0L && r.getAs[Long]("rand_u4") <= 10000L)
  }

  test("components ignore edge direction and duplicate edges") {
    val nodes = Seq(5L, 6L, 7L).toDF("id")
    val edges = Seq((7L, 6L), (6L, 7L), (6L, 5L)).toDF("id1", "id2")
    val comp = Cluster.connectedComponents(nodes, edges)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(comp.values.toSet == Set(5L))
  }

  test("a diameter-1000 path converges inside the default round budget (path halving)") {
    import spark.implicits._
    // the regression the sf0.1 phash graph exposed: plain min-label
    // propagation needs O(diameter) rounds and silently emitted
    // unconverged labels past maxIter=20; pointer jumping makes a
    // 1000-long chain converge in ~log2(1000) rounds
    val nodes = (0L to 1000L).toDF("id")
    val edges = (0L until 1000L).map(i => (i, i + 1)).toDF("id1", "id2")
    val comps = graft.ops.Cluster.connectedComponents(nodes, edges)
      .select("comp").distinct().collect().map(_.getLong(0))
    assert(comps.toSeq == Seq(0L),
      s"chain must collapse to component 0, got ${comps.length} components")
  }

  test("local-forest contraction: labels are partitioning-invariant (1/7/32)") {
    // r17: connectedComponents contracts each edge partition with
    // union-find before the iterate; the emitted forest depends on the
    // partitioning, but the fixpoint (per-component min labels) must
    // not. Pin equality across 1, 7 and 32 edge partitions on a graph
    // that mixes chains, a clique, duplicate/reversed edges and
    // singletons.
    val nodes = ((0L to 40L) ++ Seq(100L, 101L, 200L)).toDF("id")
    val chain = (0L until 40L).map(i => (i, i + 1))
    val extra = Seq((100L, 101L), (101L, 100L), (7L, 3L), (40L, 0L))
    val edges = (chain ++ extra).toDF("id1", "id2")
    val expected = Cluster.connectedComponents(nodes, edges.coalesce(1))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    for (p <- Seq(7, 32)) {
      val got = Cluster.connectedComponents(nodes, edges.repartition(p))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == expected, s"labels diverged at $p edge partitions")
    }
    assert(expected(40L) == 0L && expected(101L) == 100L
      && expected(200L) == 200L)
  }

  test("dedup clusters are the transitive closure of near-dup pairs at sf0.001") {
    val docs  = Tables.documents(spark, sf)
    val pairs = Dedup.ngramJaccard(docs)
      .select("id1", "id2").collect().map(r => (r.getLong(0), r.getLong(1)))
    val out = Cluster.dedupClusters(docs, Dedup.ngramJaccard(docs))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // every doc appears, every pair lands in one cluster, and the
    // cluster id is the component minimum
    assert(out.size == docs.count())
    pairs.foreach { case (a, b) =>
      assert(out(a) == out(b), s"pair ($a,$b) split across clusters")
      assert(out(a) <= a && out(a) <= b)
    }
    // docs in no pair are their own cluster
    val inPairs = pairs.flatMap(p => Seq(p._1, p._2)).toSet
    out.foreach { case (id, c) => if (!inPairs.contains(id)) assert(c == id) }
  }

  test("hll sketch distinct estimates the exact count within 5%") {
    val est = SparkEntry.queries("m_sketch_distinct")(spark, sf)
      .collect().map(r => r.getDate(0).toString -> r.getLong(1)).toMap
    val exact = Tables.orders(spark, sf)
      .groupBy(date_trunc("month", col("o_orderdate")).cast("date").as("period"))
      .agg(countDistinct("o_custkey").as("n"))
      .collect().map(r => r.getDate(0).toString -> r.getLong(1)).toMap
    assert(est.keySet == exact.keySet)
    exact.foreach { case (p, n) =>
      assert(math.abs(est(p) - n) <= math.max(1L, (n * 0.05).toLong),
        s"period $p: est=${est(p)} exact=$n")
    }
  }

  test("histogram quantile estimate stays within one bin of the exact percentile") {
    val est = SparkEntry.queries("m_histo_percentiles")(spark, sf)
      .collect().map(r => r.getDate(0).toString ->
        (r.getDouble(1), r.getDouble(2), r.getDouble(3))).toMap
    // percentile_disc = the order statistic whose bin the histogram
    // CDF crossing lands in, so the one-bin bound is exact by
    // construction (interpolated percentile can sit an order-statistic
    // gap away at sparse months)
    val exact = Tables.orders(spark, sf)
      .groupBy(date_trunc("month", col("o_orderdate")).cast("date").as("period"))
      .agg(expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY o_totalprice)").as("p50"),
        expr("percentile_disc(0.9) WITHIN GROUP (ORDER BY o_totalprice)").as("p90"),
        expr("percentile_disc(0.99) WITHIN GROUP (ORDER BY o_totalprice)").as("p99"))
      .collect().map(r => r.getDate(0).toString ->
        (r.getDouble(1), r.getDouble(2), r.getDouble(3))).toMap
    assert(est.keySet == exact.keySet)
    val binWidth = 1000.0
    exact.foreach { case (p, (e50, e90, e99)) =>
      val (h50, h90, h99) = est(p)
      assert(math.abs(h50 - e50) <= binWidth, s"$p p50: $h50 vs $e50")
      assert(math.abs(h90 - e90) <= binWidth, s"$p p90: $h90 vs $e90")
      assert(math.abs(h99 - e99) <= binWidth, s"$p p99: $h99 vs $e99")
    }
  }

  test("dedup clusters resolve splits, cross-family merges and new docs to min ids") {
    // the second generation of a landing corpus whose first generation
    // held a {1,2,3} chain, a {10,11} pair, a {20,21,22} triangle and
    // singletons 30, 40, 50 — the streaming funnel re-derives families
    // over such a graph in full every generation:
    //   doc 2 EXITS (splits {1,2,3} into {1} and {3}),
    //   pair (11,20) ADDED (merges two old families),
    //   pair (20,21) REMOVED (triangle survives via 20-22,21-22),
    //   pair (40,41) ADDED with NEW doc 41, new singleton 60,
    //   old-old pair (30,50) ADDED (two former singletons pair up
    //   with no new doc)
    val docs2 = Seq(1L, 3L, 10L, 11L, 20L, 21L, 22L, 30L, 40L, 41L, 50L, 60L)
      .toDF("doc_id")
    val pairs2 = Seq((1L, 2L), (2L, 3L), (10L, 11L), (20L, 22L), (21L, 22L),
      (11L, 20L), (40L, 41L), (30L, 50L))
      .filter { case (a, b) => a != 2L && b != 2L } // doc 2 left the corpus
      .toDF("id1", "id2")
    val got = Cluster.dedupClusters(docs2, pairs2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(got == Map(1L -> 1L, 3L -> 3L, 10L -> 10L, 11L -> 10L, 20L -> 10L,
      21L -> 10L, 22L -> 10L, 30L -> 30L, 40L -> 40L, 41L -> 40L, 50L -> 30L,
      60L -> 60L))
    assert(got(1L) == 1L && got(3L) == 3L, "family split on doc exit")
    assert(got(10L) == 10L && got(20L) == 10L && got(22L) == 10L,
      "added cross-family pair must merge")
    assert(got(30L) == 30L && got(50L) == 30L, "old-old pair must merge")
    assert(got(41L) == 40L && got(60L) == 60L)
  }

  test("funnel steps are monotonically non-increasing and windows enforced") {
    val rows = SparkEntry.queries("events_funnel")(spark, sf).collect()
    assert(rows.map(_.getString(0)).toSeq == Seq("1_view", "2_click", "3_purchase"))
    val n = rows.map(_.getLong(1))
    assert(n(0) >= n(1) && n(1) >= n(2), n.toSeq.toString)
    assert(rows(0).getDouble(2) == 1.0)
  }

  test("retention: month zero is 1.0 and rates never exceed it") {
    val rows = SparkEntry.queries("m_retention")(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val rate = r.getAs[Double]("retention")
      if (r.getAs[Long]("months_since") == 0L) assert(rate == 1.0)
      assert(rate > 0 && rate <= 1.0)
    }
  }
}
