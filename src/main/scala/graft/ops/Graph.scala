package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.ops.PlanBarrier.Barrier

/** PageRank over an undirected pair graph (e.g. the verified near-dup
  * pairs from [[Dedup.ngramJaccard]]) — "which documents sit at the
  * center of a duplication family" is the ranking a curation pipeline
  * uses to pick canonical keepers and to spot template explosions.
  *
  * Scale shape (the same discipline as [[Cluster.connectedComponents]]):
  *
  *   - the symmetrized adjacency is co-keyed with its out-degree and
  *     materialized ONCE (`localCheckpoint`) — each iteration reuses it;
  *   - one co-partitioned join (adjacency ⋈ ranks on the source key) and
  *     one `groupBy(dst)` shuffle per iteration, both on the node key —
  *     nothing ever collects beyond the single bounded node count;
  *   - per-round `localCheckpoint` cuts the lineage so iteration depth
  *     never compounds the plan (no exponential re-execution on retry).
  *
  * Because the graph is symmetric, every node in the edge set has
  * out-degree ≥ 1 — there is no dangling-mass term, so the classic
  * r' = (1−d)/N + d·Σ_in r/deg recurrence is exact here.
  */
object Graph {

  /** Ranks after `iters` power iterations: (id, rank). `pairs` must
    * have columns id1, id2 (one row per undirected edge). Nodes not in
    * any pair are not ranked (they'd hold the uniform teleport mass). */
  def pagerank(pairs: DataFrame, damping: Double = 0.85, iters: Int = 3): DataFrame = {
    // the pair table is usually EXPENSIVE (a near-dup join); it is
    // referenced once per union side and again through deg, so
    // materialize it before fanning out
    val p = pairs.shared("pagerank.p")
    val sym = p.select(col("id1").as("src"), col("id2").as("dst"))
      .unionByName(p.select(col("id2").as("src"), col("id1").as("dst")))
    val deg = sym.groupBy("src").agg(count(lit(1)).as("deg"))
    val adj = sym.join(deg, "src").once("pagerank.adj")
    // bounded driver scalar: one long (the node count), same contract as
    // the IVF centroid collect — NOT a data collect
    val n = deg.count().toDouble
    var ranks = deg.select(col("src").as("id"))
      .withColumn("r", lit(1.0 / n)).cut("pagerank.ranks")
    for (_ <- 1 to iters) {
      ranks = (adj.join(ranks, adj("src") === ranks("id"))
        .groupBy(col("dst").as("id"))
        .agg(sum(col("r") / col("deg")).as("m"))
        .select(col("id"), (lit((1.0 - damping) / n) + lit(damping) * col("m")).as("r"))).cut("pagerank.ranks2")
    }
    ranks
  }

  /** Triangle count + global clustering coefficient over an undirected
    * edge set (columns `a`, `b`, canonicalized a < b, no duplicates).
    *
    * Degree orientation: every edge points at its (deg, id)-larger
    * endpoint, so each triangle forms exactly ONE wedge at its minimum
    * vertex and oriented out-degrees are O(√m)-bounded — the wedge
    * self-join stays near-linear instead of exploding on hubs (the
    * standard distributed-triangle trick). The closing-edge check is a
    * semi-join back to the canonical edge set, and the only things the
    * driver ever sees are five scalars.
    *
    * Output (single row): n_nodes, n_edges, n_wedges (undirected
    * Σ d·(d−1)/2), n_triangles, clustering = 3·triangles / wedges. */
  def triangleStats(edges: DataFrame): DataFrame = {
    val e = edges.select(col("a"), col("b"))
      .shared("triangleStats.e") // feeds degrees, orientation, closing edges
    val deg = e.select(col("a").as("v"))
      .unionAll(e.select(col("b").as("v")))
      .groupBy("v").agg(count(lit(1)).as("deg"))
    val fwd = col("dega") < col("degb") ||
      (col("dega") === col("degb") && col("a") < col("b"))
    val o = e
      .join(deg.select(col("v").as("a"), col("deg").as("dega")), "a")
      .join(deg.select(col("v").as("b"), col("deg").as("degb")), "b")
      .select(when(fwd, col("a")).otherwise(col("b")).as("u"),
        when(fwd, col("b")).otherwise(col("a")).as("w"))
    val wedges = o.select(col("u"), col("w").as("v1"))
      .join(o.select(col("u"), col("w").as("v2")), "u")
      .filter(col("v1") < col("v2"))
    val tri = wedges
      .join(e.select(col("a").as("v1"), col("b").as("v2")),
        Seq("v1", "v2"), "left_semi")
      .agg(count(lit(1)).as("n_triangles"))
    val sizes = deg.agg(count(lit(1)).as("n_nodes"),
      sum(col("deg") * (col("deg") - 1) / 2).cast("bigint").as("n_wedges"))
    val nEdges = e.agg(count(lit(1)).as("n_edges"))
    Scalars.withScalar(
        Scalars.withScalar(sizes, col("n_nodes"), nEdges, col("n_edges")),
        col("n_nodes"), tri, col("n_triangles"))
      .select(col("n_nodes"), col("n_edges"), col("n_wedges"),
        col("n_triangles"),
        when(col("n_wedges") > 0,
          round(lit(3.0) * col("n_triangles") / col("n_wedges"), 4))
          .otherwise(0.0).as("clustering"))
  }

  /** k-core peel curve (Seidman 1983; distributed peeling à la
    * Montresor et al. 2013) over an undirected edge set (columns `a`,
    * `b`, a < b canonical) — the cohesion question next to
    * [[triangleStats]]'s closure and [[labelProp]]'s communities: how
    * much of the graph survives when nodes with fewer than `k`
    * surviving neighbors are repeatedly stripped? The surviving
    * subgraph is the k-core; the CURVE (size after each peel round) is
    * the audit view — a near-dup graph whose core collapses in one
    * round is hub-and-spoke templates, one that persists is a densely
    * cross-linked clone family.
    *
    * Fixed `rounds` unroll, same doctrine as [[labelProp]]: each round
    * is one degree groupBy + two semi-joins back to the edge set, all
    * keyed on node ids, lineage cut per round; peeling is monotone
    * (node sets only shrink), so round r is a well-defined prefix of
    * the fixpoint whether or not the horizon reaches it, and the
    * emitted `stable` flag says if it did. Output: (round, n_nodes,
    * n_edges, stable) for rounds 0..rounds, all BIGINT. */
  def kCorePeel(edges: DataFrame, k: Int = 3, rounds: Int = 6): DataFrame = {
    require(rounds >= 1 && rounds <= 16, s"rounds must be in [1,16]: $rounds")
    var cur = edges.select(col("a"), col("b")).shared("kCorePeel.cur")
    val states = scala.collection.mutable.ArrayBuffer(cur)
    for (_ <- 1 to rounds) {
      val keep = cur.select(col("a").as("v"))
        .unionByName(cur.select(col("b").as("v")))
        .groupBy("v").agg(count(lit(1)).as("deg"))
        .filter(col("deg") >= k).select("v")
      cur = cur
        .join(keep.select(col("v").as("a")), Seq("a"), "left_semi")
        .join(keep.select(col("v").as("b")), Seq("b"), "left_semi")
        .select(col("a"), col("b")).shared("kCorePeel.cur2")
      states += cur
    }
    val stats = states.zipWithIndex.map { case (st, r) =>
      val nn = st.select(col("a").as("v")).unionByName(st.select(col("b").as("v")))
        .distinct().agg(count(lit(1)).as("n_nodes"))
        .withColumn("round", lit(r.toLong))
      st.agg(count(lit(1)).as("n_edges"))
        .withColumn("round", lit(r.toLong))
        .join(nn, "round")
    }.reduce(_.unionByName(_))
    // stable once a round removes nothing — compare to the previous row
    val w = org.apache.spark.sql.expressions.Window.orderBy("round")
    stats
      .withColumn("stable",
        (lag("n_nodes", 1).over(w) === col("n_nodes")).cast("long"))
      .na.fill(0L, Seq("stable"))
      .select(col("round"), col("n_nodes"), col("n_edges"), col("stable"))
  }

  /** Synchronous label propagation communities (Raghavan et al. 2007)
    * over an undirected edge set (columns `a`, `b`, a < b canonical) —
    * the community structure [[Cluster.connectedComponents]] cannot
    * see: CC answers "reachable at all", LPA answers "densely knit",
    * which on a kNN similarity graph is the embedding-cluster question.
    *
    * Determinism: the classic algorithm breaks mode ties randomly and
    * updates asynchronously in arrival order — both unreproducible on a
    * partitioned engine. This variant is the synchronous fixed-round
    * formulation with a total tie order: every node starts as its own
    * label, and each round every node simultaneously adopts the label
    * held by the most neighbors, ties to the SMALLEST label. A fixed
    * `iters` unroll (not convergence detection) keeps the plan static;
    * sync LPA can 2-cycle on bipartite-ish regions, and a fixed even/
    * odd horizon picks one side of that cycle deterministically.
    *
    * Scale shape, same discipline as [[pagerank]]: the symmetrized
    * adjacency materializes ONCE; each round is one co-keyed join
    * (adjacency ⋈ labels on the neighbor key) + one groupBy(node,
    * label) + one per-node top-1 window — all shuffles on the node
    * key, state exactly one row per node, lineage cut per round.
    * Output: (v, lbl) final labels. */
  def labelProp(edges: DataFrame, iters: Int = 4): DataFrame = {
    // both directions from one projection: a union of two would have
    // two tasks compute each edge partition
    val sym = edges.select(explode(array(
        struct(col("a").as("src"), col("b").as("dst")),
        struct(col("b").as("src"), col("a").as("dst")))).as("d"))
      .select("d.*")
      .once("labelProp.sym") // reused every round
    var lab = sym.select(col("dst").as("v")).distinct()
      .withColumn("lbl", col("v")).cut("labelProp.lab")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("src").orderBy(col("cnt").desc, col("lbl"))
    for (_ <- 1 to iters) {
      lab = sym.join(lab, sym("dst") === lab("v"))
        .groupBy(col("src"), col("lbl")).agg(count(lit(1)).as("cnt"))
        .withColumn("rk", row_number().over(w)).filter(col("rk") === 1)
        .select(col("src").as("v"), col("lbl")).cut("labelProp.lab2")
    }
    lab
  }

  /** Degree assortativity coefficient (Newman 2002) over an undirected
    * edge set (columns `a`, `b`, a < b canonical) — the mixing question
    * the rest of the family leaves open: do hubs attach to hubs
    * (r > 0, social-graph-like) or to leaves (r < 0, star-like)? On a
    * kNN similarity graph, disassortative mixing is the hub-and-spoke
    * signature of a template explosion; assortative mixing means dense
    * duplicate cores.
    *
    * r is the Pearson correlation of (deg(u), deg(v)) over the
    * SYMMETRIZED edge ends. Because the two ends are identically
    * distributed under symmetrization, Σx = Σy and Σx² = Σy², so
    * r = (M·Σxy − (Σx)²) / (M·Σx² − (Σx)²) with M = 2·|E|. All
    * moments accumulate as exact DECIMAL(38,0) integers (two co-keyed
    * joins against the bounded degree table, one global aggregate);
    * the ONE continuous step is the final quotient — both engines cast
    * the same exact integers to double and divide (the m_gini
    * emission rule). A degree-regular graph has zero variance and no
    * defined mixing; r emits as 0.0 there by documented convention.
    *
    * Output 1 row: (n_nodes, n_edges, assort_r 6dp). */
  def degreeAssortativity(edges: DataFrame): DataFrame = {
    // both edge ends from one projection (a union of two would have
    // two tasks compute each edge partition); the degree job computes
    // it, the moment joins read it afterwards
    val sym = edges.select(explode(array(
        struct(col("a").as("s"), col("b").as("t")),
        struct(col("b").as("s"), col("a").as("t")))).as("d"))
      .select("d.*")
      .once("degreeAssortativity.sym")
    val deg = sym.groupBy(col("s").as("v")).agg(count(lit(1)).as("deg"))
      .shared("degreeAssortativity.deg")
    val p = sym
      .join(deg.select(col("v").as("s"), col("deg").as("dx")), "s")
      .join(deg.select(col("v").as("t"), col("deg").as("dy")), "t")
    val nn = deg.agg(count(lit(1)).as("n_nodes"))
    val m = p.agg(count(lit(1)).as("m"),
      sum(col("dx").cast("decimal(38,0)")).as("sx"),
      sum((col("dx").cast("decimal(38,0)") * col("dy"))).as("sxy"),
      sum((col("dx").cast("decimal(38,0)") * col("dx"))).as("sx2"))
    Scalars.withScalar(m, col("m"), nn, col("n_nodes"))
      .withColumn("num", expr("m * sxy - sx * sx"))
      .withColumn("den", expr("m * sx2 - sx * sx"))
      .select(col("n_nodes"), (col("m") / 2).cast("long").as("n_edges"),
        when(col("den") === 0, lit(0.0d))
          .otherwise(round(col("num").cast("double") / col("den").cast("double"), 6))
          .as("assort_r"))
  }

  /** Multi-source BFS hop layers over an undirected edge set (columns
    * `a`, `b`, a < b canonical) — the reachability-DEPTH question the
    * rest of the graph family doesn't ask: CC says "same family",
    * k-core says "densely attached", BFS layers say "how FAR the rest
    * of the graph sits from a seed set" (e.g. how many hops of the
    * near-dup graph a trusted subset can vouch for). This is the
    * Pregel frontier-expansion primitive, expressed declaratively.
    *
    * Fixed `maxHops` horizon (not convergence detection) keeps the
    * plan static, matching [[kCorePeel]]'s doctrine. Each round is one
    * co-keyed join (frontier ⋈ symmetrized adjacency on the node key)
    * + one distinct + one anti-join against the visited set — all
    * shuffles on the node key; the frontier-only join is what makes a
    * round O(frontier-degree-sum), not O(visited); `localCheckpoint`
    * per round cuts the lineage. Visited state is exactly one row per
    * reached node, the same bound CC carries.
    *
    * Returns (v, hop) with hop = minimum hop distance from any seed
    * (0 for seeds themselves — seeds need not appear in the edge set);
    * nodes unreached within `maxHops` are absent. Min-hop needs no
    * min-reduce: BFS order guarantees first touch IS the minimum. */
  /** Adamic-Adar link prediction weights, ×10⁶ half-up: index i
    * (1-based) holds round(10⁶/ln(i+1)) for center degrees 2..64;
    * degrees above 64 clamp to the last slot (a near-flat tail — a
    * 64-neighbor hub already contributes almost nothing). ONE literal
    * table generated here and spliced verbatim into the DuckDB oracle,
    * so neither engine evaluates a float log at query time. */
  val aaWeightsU6: IndexedSeq[Long] =
    (2 to 64).map(d => math.round(1e6 / math.log(d.toDouble)))

  /** Adamic-Adar link prediction (Adamic & Adar 2003) over an
    * undirected edge set (columns `a`, `b`, a < b canonical) — the
    * PREDICTION member of the graph family: for every non-adjacent
    * pair at distance 2, score Σ_z 1/ln(deg z) over the common
    * neighbors z. On a kNN similarity graph the top pairs are the
    * near-dup edges the LSH sparsifier most likely MISSED — the
    * recall-repair worklist for the dedup stack.
    *
    * Scale shape: wedges come from joining the symmetric adjacency
    * with itself on the center node — cost Σ deg(z)², the same bound
    * as [[triangleStats]] (kNN degrees are k-bounded by construction);
    * existing edges leave via an anti-join on the canonical pair; the
    * score is a pure-integer sum over the spliced ×10⁶ weight table
    * (no float log — [[aaWeightsU6]]); top-k is TakeOrderedAndProject
    * on the (aa_u6 desc, u, v) total order. */
  def adamicAdar(edges: DataFrame, k: Int = 20): DataFrame = {
    val e = edges.select(col("a"), col("b"))
      .shared("adamicAdar.e") // feeds adjacency, degrees, the anti-join
    val sym = e.select(col("a").as("z"), col("b").as("n"))
      .unionAll(e.select(col("b").as("z"), col("a").as("n")))
    val deg = sym.groupBy("z").agg(count(lit(1)).as("deg"))
    // Clamp the index to >= 1: a degree-1 center would index slot 0,
    // which ANSI element_at throws on. Degree-1 centers form no wedges,
    // so the clamped value is never summed — the greatest() only makes
    // the projection safe wherever Catalyst chooses to evaluate it
    // (before r12 this worked only because the wedge self-join happened
    // to run first — a plan-dependent accident).
    val adj = sym.join(deg, "z")
      .withColumn("w6", element_at(array(aaWeightsU6.map(lit): _*),
        greatest(least(col("deg"), lit(64L)), lit(2L)).cast("int") - 1))
    adj.select(col("z"), col("n").as("u"), col("w6"))
      .join(adj.select(col("z"), col("n").as("v")), "z")
      .filter(col("u") < col("v"))
      .groupBy("u", "v")
      .agg(count(lit(1)).as("n_common"), sum("w6").as("aa_u6"))
      .join(e.select(col("a").as("u"), col("b").as("v")),
        Seq("u", "v"), "left_anti")
      .orderBy(col("aa_u6").desc, col("u"), col("v")).limit(k)
  }

  def bfsLayers(edges: DataFrame, seeds: DataFrame, maxHops: Int = 4): DataFrame = {
    require(maxHops >= 1 && maxHops <= 16, s"maxHops must be in [1,16]: $maxHops")
    require(seeds.columns.sameElements(Array("v")), "seeds must be a single column v")
    val sym = edges.select(col("a").as("src"), col("b").as("dst"))
      .unionByName(edges.select(col("b").as("src"), col("a").as("dst")))
      .once("bfsLayers.sym") // reused every round
    var visited = seeds.distinct()
      .withColumn("hop", lit(0L)).shared("bfsLayers.visited")
    var frontier = visited.select("v")
    for (h <- 1 to maxHops) {
      frontier = sym.join(frontier.withColumnRenamed("v", "src"), "src")
        .select(col("dst").as("v")).distinct()
        .join(visited, Seq("v"), "left_anti").shared("bfsLayers.frontier")
      visited = visited
        .unionByName(frontier.withColumn("hop", lit(h.toLong))).cut("bfsLayers.visited2")
    }
    visited
  }
}
