package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.ops.PlanBarrier.Barrier

/** Duplicate-cluster resolution: connected components over a near-dup
  * pair graph, so a whole family of mutual near-duplicates collapses to
  * ONE canonical keeper (the minimum doc id) — the step a training-data
  * pipeline runs after pair generation, since near-dup pairs are not
  * transitive on their own.
  *
  * Algorithm: iterative min-label propagation (the label of every node
  * drops to the minimum label among itself and its neighbors) PLUS a
  * pointer-jumping step per round (every label follows its own label —
  * path halving), the DataFrame rendering of the classic MapReduce
  * connected-components loop upgraded to O(log diameter) rounds. Plain
  * min-propagation needs O(diameter) rounds, and real near-dup graphs
  * DO ship long chains: the sf0.1 perceptual-hash graph has a
  * component of diameter > 20, which silently exceeded the old bound
  * (caught by the exact-closure oracle as a one-row family-histogram
  * mismatch). With halving, label chains shorten geometrically, so
  * maxIter = 20 covers any component a pipeline will ever meet
  * (diameter up to ~2²⁰). Each iteration is two equi-joins + one
  * groupBy, all co-shuffled on the node id, then the jump as one
  * window per label, and the iterate is cut with [[PlanBarrier.cut]]
  * per round: lineage truncation alone is not enough, because
  * `localCheckpoint` carries the size estimate across the boundary and
  * the per-round joins multiply it, blowing up driver planning
  * geometrically past ~15 rounds (at open scale the barrier is a write
  * to storage between iterations).
  */
object Cluster {

  /** LOCAL SPANNING-FOREST CONTRACTION — one union-find pass per edge
    * partition, run BEFORE the distributed iterate (r17).
    *
    * The min-label + path-halving loop needs ~2·log₂(diameter) rounds,
    * and each round is a fixed bill of three shuffles plus two barrier
    * materializations; on the sf0.1 perceptual-hash graph (components
    * of diameter ~250) that was 19 rounds ≈ 8.5 s of almost pure
    * per-round overhead. Real near-dup graphs ship exactly such chains,
    * so the round count — not the per-round data — is the cost at every
    * scale. The standard remedy (the local-contraction step of the
    * MapReduce-CC literature, e.g. Kiveris et al. 2014 §"large-star"
    * preprocessing): each task runs union-find with path compression
    * over ITS partition's edges and emits one (node → partition-local
    * component min) star edge per non-root node. This preserves
    * connectivity exactly — every original edge (a,b) maps to a shared
    * local root, and every emitted edge lies inside the original
    * transitive closure — while collapsing every within-partition chain
    * to depth 1, so the global iterate only reconciles ACROSS-partition
    * structure (measured: 19 rounds → 3 on the same graph). Memory is
    * bounded by the distinct ids of one edge partition — the same
    * per-task working-set class as a hash aggregate over that
    * partition. This is a typed mapPartitions by necessity: union-find
    * is pointer-chasing Catalyst cannot express; determinism is by
    * value not by path (the emitted forest depends on the partitioning,
    * but the LOOP's fixpoint — per-component min labels — is invariant;
    * ClusterSpec pins equality across 1/7/32-partition runs). */
  private def localForest(edges: DataFrame): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    edges.select(col("id1").cast("long"), col("id2").cast("long"))
      .as[(Long, Long)]
      .mapPartitions { it =>
        val parent = new java.util.HashMap[Long, Long]()
        def find(x: Long): Long = {
          var r = x
          while (parent.get(r) != r) r = parent.get(r)
          var c = x
          while (parent.get(c) != r) { val n = parent.get(c); parent.put(c, r); c = n }
          r
        }
        it.foreach { case (a, b) =>
          if (!parent.containsKey(a)) parent.put(a, a)
          if (!parent.containsKey(b)) parent.put(b, b)
          val ra = find(a); val rb = find(b)
          if (ra < rb) parent.put(rb, ra)
          else if (rb < ra) parent.put(ra, rb)
        }
        val out = Vector.newBuilder[(Long, Long)]
        parent.forEach((k, _) => { val r = find(k); if (r != k) out += ((k, r)) })
        out.result().iterator
      }
      .toDF("src", "dst")
  }

  /** Connected components of the undirected graph (`nodes(id)`,
    * `edges(id1, id2)`). Output: id, comp — comp is the component's
    * minimum node id; isolated nodes are their own component. */
  def connectedComponents(nodes: DataFrame, edges: DataFrame,
                          maxIter: Int = 20): DataFrame = {
    // contract within-partition chains first ([[localForest]]), then
    // iterate on the star forest; both directions once, so one join
    // per round sees every neighbor
    val forest = localForest(edges)
    val sym = forest
      .unionByName(forest.select(col("dst").as("src"), col("src").as("dst")))
      .once("connectedComponents.sym")

    // round 1 reads the start labels from both join sides at once; they
    // are a projection of `nodes`, which dedupClusters passes
    // materialized, so they need no barrier of their own
    var labels = nodes.select(col("id"), col("id").as("comp"))
    var iter = 0
    var converged = false
    while (!converged && iter < maxIter) {
      val nbrMin = sym.join(labels, sym("dst") === labels("id"))
        .groupBy("src").agg(min("comp").as("nbr_comp"))
      // carry a per-row changed flag through the iterate so convergence
      // is a filter on the ALREADY-materialized table, not an extra
      // old-vs-new join per round
      val stepped = labels.join(nbrMin, labels("id") === nbrMin("src"), "left")
        .select(labels("id"),
          least(col("comp"), coalesce(col("nbr_comp"), col("comp"))).as("comp"),
          coalesce(col("nbr_comp") < col("comp"), lit(false)).as("chg1"))
      // pointer jumping (path halving): follow the label's own label —
      // comp is always a node id, so every row finds its label's row;
      // label chains halve per round, giving O(log diameter)
      // convergence. One pass over `stepped`: each row asks for its
      // label's label (keyed by comp) and answers for itself (keyed by
      // id), and a window per key hands the answer to the askers, so
      // `stepped` needs no checkpoint for two readers (see PlanBarrier)
      val ask = col("ask")
      val next = (
        stepped.withColumn("ask", explode(array(lit(true), lit(false))))
          .withColumn("jcomp", max(when(!ask, col("comp"))).over(
            Window.partitionBy(when(ask, col("comp")).otherwise(col("id")))))
          .filter(ask)
          .select(col("id"), least(col("comp"), col("jcomp")).as("comp"),
            (col("chg1") || col("jcomp") < col("comp")).as("chg"))).cut("connectedComponents.next")
      converged = next.filter(col("chg")).limit(1).count() == 0
      labels = next.select("id", "comp")
      iter += 1
    }
    if (!converged)
      org.slf4j.LoggerFactory.getLogger(getClass).warn(
        s"connectedComponents did NOT converge in $maxIter rounds — " +
          "labels are an upper bound, not final components; a duplicate " +
          "chain longer than maxIter needs a larger bound")
    labels
  }

  /** Per-document cluster assignment over the verified near-dup pairs:
    * doc_id, cluster_id (min doc_id of the duplicate family; singletons
    * map to themselves).
    *
    * Isolated docs — the overwhelming bulk of a deduped corpus — never
    * change labels, so only the docs that appear in a pair enter the
    * iterate; everyone else is a singleton family by definition. Each
    * CC round's joins then run over the near-dup MINORITY, not the
    * corpus (r17: the whole-corpus iterate paid ~|corpus| per round
    * for rows whose labels were fixed from the start).
    *
    * `pairs` should be materialized (a checkpoint, or a filter or
    * projection of one), as every pair operator here returns it: the
    * linked-id set and the iterate's forest both read it, from two
    * stages of one job, so the edges are a projection of it rather than
    * a lazy checkpoint of their own (see [[PlanBarrier]]). */
  def dedupClusters(docs: DataFrame, pairs: DataFrame): DataFrame = {
    val edges = pairs.select(col("id1"), col("id2"))
    val linked = edges.select(col("id1").as("id"))
      .unionByName(edges.select(col("id2").as("id")))
      .distinct()
      .shared("dedupClusters.linked") // the iterate AND the isolated anti-join
    val families = connectedComponents(linked, edges)
      .select(col("id").as("doc_id"), col("comp").as("cluster_id"))
    docs.select(col("doc_id").as("doc_id"))
      .join(linked.select(col("id").as("doc_id")), Seq("doc_id"), "left_anti")
      .select(col("doc_id"), col("doc_id").as("cluster_id"))
      .unionByName(families)
  }
}
