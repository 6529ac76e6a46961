package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.ops.PlanBarrier.Barrier

/** HNSW-style layered ANN, re-expressed deterministically for a
  * distributed engine.
  *
  * True HNSW is insertion-order-dependent (each vector's edges depend
  * on the graph state at its arrival), which no partitioned build can
  * reproduce. This operator keeps the two load-bearing HNSW ideas —
  * a layer hierarchy whose sparse top narrows the search region in
  * O(log n) hops, and greedy beam descent over a bounded-degree
  * neighbor graph — and replaces the history-dependent construction
  * with pure functions of the data:
  *
  *  - layer assignment is a geometric ladder on the portable 64-bit
  *    hash of vec_id (hash%16==0 → layer 2, hash%4==0 → layer 1,
  *    else 0: expected 1/16 and 1/4 occupancy — the p=1/4 HNSW level
  *    distribution), so membership is reproducible on any cluster and
  *    replayable by the DuckDB oracle;
  *  - each layer's graph is the top-`m` cosine neighbors among
  *    candidates that share a bucket under ANY of THREE independent
  *    hyperplane bucketings (an OR-construction: one bucketing leaves
  *    the graph disconnected across buckets and the beam can never
  *    leave the entry's component — measured recall 0.02; three
  *    restore cross-bucket connectivity). Each bucketing is an
  *    equi-join, never all-pairs, so build cost stays bucket-bounded
  *    at any scale;
  *  - search descends entry → layer 2 → 1 → 0 with a fixed, unrolled
  *    round structure (one expansion per upper layer, two at layer 0),
  *    each round an equi-join of the ≤`beam`-row per-probe frontier
  *    against the adjacency, re-ranked by (cos desc, vec_id asc) —
  *    deterministic ties, no driver-side loop, probe set broadcast
  *    under the same exemption as bruteForceTopK.
  *
  * A fixed unroll instead of convergence detection is deliberate: the
  * hop count IS the latency budget in production graph-ANN, and a
  * static plan keeps every round inside one Catalyst job.
  * Output: probe_id, rank, neighbor_id, cos (4dp). */
object Hnsw {

  /** The built index: node table (vectors + norms + buckets + level),
    * the three per-layer adjacencies, and the global entry node. The
    * distributed analog of a persisted HNSW index file — [[build]]
    * once, [[search]] at any beam width. */
  final case class Index(e: DataFrame, adj2: DataFrame, adj1: DataFrame,
                         adj0: DataFrame, entry: Long)

  /** Builds the layer ladder + per-layer digraphs. Every layer is
    * checkpointed: the index is the persisted artifact that every
    * search (and every beam width of a sweep) reads. */
  def build(emb: DataFrame, m: Int = 6): Index = {
    val spark = emb.sparkSession
    graft.functions.DotProduct.register(spark)
    graft.functions.GraftHash64.register(spark)
    val bucketings = Seq(42L, 43L, 44L).map(Similarity.hyperplanes(3, 64, _))

    val h = call_function("graft_hash64", col("vec_id").cast("string"), lit(11L))
    val e = bucketings.zipWithIndex.foldLeft(
        emb.select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
          .withColumn("nrm", sqrt(Dedup.dot(col("v"), col("v"))))) {
        case (d, (pl, i)) => d.withColumn(s"b$i", Similarity.bucketOf(col("v"), pl))
      }
      .withColumn("level",
        when(pmod(h, lit(16L)) === 0, 2).when(pmod(h, lit(4L)) === 0, 1)
          .otherwise(0))
      .shared("hnsw.nodes") // feeds 3 adjacency builds + the search

    // per-layer bounded-degree digraph: src → its m best candidates,
    // candidates = bucket-mates under ANY of the three bucketings
    // (three equi-joins + distinct — never an OR-join, never all-pairs)
    def adj(l: Int): DataFrame = {
      val nl = e.filter(col("level") >= l)
        .select(col("vec_id"), col("v"), col("nrm"),
          col("b0"), col("b1"), col("b2"))
      // cosine is symmetric: generate each UNORDERED pair once
      // (src < dst canonical) and score it AT THE BUCKET JOIN, where
      // both vectors are already co-located — the old shape built the
      // bare pair list, distinct'd it, then re-attached the two
      // 64-double vectors through two more joins, i.e. it shuffled
      // vector payloads with full pair multiplicity (guide §2.3:
      // shuffle keys and metadata, not payloads). Scoring inline costs
      // at most one extra dot product per duplicated (multi-bucketing)
      // pair — cheap codegen arithmetic — while the distinct now
      // dedupes 24-byte (src, dst, c) rows; the same pair always scores
      // to the identical double, so distinct-then-score and
      // score-then-distinct are byte-equal. The scored row is then
      // EXPLODED into both directions inside the same operator tree —
      // a flip-union would reference the join subtree twice and
      // Catalyst would execute it twice (only Exchanges dedupe), while
      // the 2-element Generate keeps it at one evaluation per pair.
      val cosIn = Dedup.dot(col("av"), col("bv")) / (col("an") * col("bn"))
      val scored = (0 to 2).map { i =>
        nl.select(col("vec_id").as("src"), col(s"b$i").as("bk"),
            col("v").as("av"), col("nrm").as("an"))
          .join(nl.select(col("vec_id").as("dst"), col(s"b$i").as("bk"),
            col("v").as("bv"), col("nrm").as("bn")), "bk")
          .filter(col("src") < col("dst"))
          .select(col("src"), col("dst"), cosIn.as("c"))
      }.reduce(_.unionByName(_)).distinct()
      val w = Window.partitionBy("src").orderBy(col("c").desc, col("dst"))
      scored
        .select(explode(array(
          struct(col("src"), col("dst"), col("c")),
          struct(col("dst").as("src"), col("src").as("dst"), col("c"))))
          .as("e"))
        .select(col("e.src").as("src"), col("e.dst").as("dst"), col("e.c").as("c"))
        .withColumn("r", row_number().over(w)).filter(col("r") <= m)
        .select("src", "dst")
    }
    val adj2 = adj(2).once("hnsw.adj2")
    val adj1 = adj(1).once("hnsw.adj1")
    val adj0 = adj(0).once("hnsw.adj0")

    // global entry: smallest vec_id on the highest populated layer —
    // a 1-row scalar, the only value that ever reaches the driver
    val ent = e.agg(
      min(when(col("level") >= 2, col("vec_id"))).as("e2"),
      min(when(col("level") >= 1, col("vec_id"))).as("e1"),
      min(col("vec_id")).as("e0")).head()
    val entry: Long = Seq(0, 1, 2).map(ent.get).collectFirst {
      case x: Long => x
    }.getOrElse(throw new IllegalArgumentException("empty corpus"))
    Index(e, adj2, adj1, adj0, entry)
  }

  /** Greedy beam descent over a built [[Index]] — entry → L2 → L1 →
    * two L0 hops, re-ranked per hop, top-`k` excluding self. */
  def search(ix: Index, probeFilter: Column, k: Int = 5,
             beam: Int = 8): DataFrame = {
    val probes = ix.e.filter(probeFilter)
      .select(col("vec_id").as("probe_id"), col("v").as("pv"), col("nrm").as("pn"))
    searchProbes(ix, probes, k, beam)
      .select(col("probe_id"), col("rank"), col("neighbor_id"),
        round(col("cos"), 4).as("cos"))
  }

  /** [[search]] with an EXPLICIT probe table (probe_id, pv, pn) — the
    * probes need not be index members (that is the whole point of
    * [[append]]: a landing shard searches the frozen graph to find its
    * attachment edges before it is part of any adjacency). `cos` is
    * returned UNROUNDED so callers that rank on it downstream (the
    * in-edge cap) agree with the oracle's replay bit-for-bit. */
  private def searchProbes(ix: Index, probes: DataFrame, k: Int,
                           beam: Int): DataFrame = {
    val Index(e, adj2, adj1, adj0, entry) = ix
    val pcos = Dedup.dot(col("pv"), col("v")) / (col("pn") * col("nrm"))

    /** frontier ∪ its layer-adjacency expansion, probe vector attached
      * by key from the broadcast probe set, re-scored, top-`keep` per
      * probe. The frontier carries only (probe_id, node[, cos]). */
    def hop(frontier: DataFrame, a: DataFrame, keep: Int): DataFrame = {
      val expanded = frontier
        .join(a, frontier("node") === a("src"))
        .select(col("probe_id"), col("dst").as("node"))
        .unionByName(frontier.select("probe_id", "node"))
        .distinct()
      val w = Window.partitionBy("probe_id").orderBy(col("cos").desc, col("node"))
      expanded
        .join(e.select(col("vec_id").as("node"), col("v"), col("nrm")), "node")
        .join(broadcast(probes), "probe_id")
        .select(col("probe_id"), col("node"), pcos.as("cos"))
        .withColumn("r", row_number().over(w)).filter(col("r") <= keep)
        .select("probe_id", "node", "cos")
    }

    // checkpointed so `node` is a real attribute, not a foldable
    // literal — Catalyst would otherwise constant-fold the first hop's
    // join condition into a right-side-only predicate and degrade the
    // equi-join to a nested-loop product (the withScalar r8 class);
    // eager, as both branches of the first hop's union read it at once
    val seed = probes.select(col("probe_id"), lit(entry).as("node"))
      .shared("hop.seed")
    val b2 = hop(seed, adj2, math.max(2, beam / 2))
    val b1 = hop(b2, adj1, beam)
    val b0 = hop(hop(b1, adj0, beam), adj0, beam)
    val wf = Window.partitionBy("probe_id").orderBy(col("cos").desc, col("node"))
    b0.filter(col("node") =!= col("probe_id"))
      .withColumn("rank", row_number().over(wf)).filter(col("rank") <= k)
      .select(col("probe_id"), col("rank").cast("bigint").as("rank"),
        col("node").as("neighbor_id"), col("cos"))
  }

  /** FROZEN-GRAPH SHARD ATTACHMENT — the landing cadence for graph
    * ANN, completing the incremental-index trilogy (ann_ivf_append's
    * frozen quantizer, mm_phash_incremental's signature store, and
    * now the graph): history's layer ladder, adjacencies and entry
    * are reused UNTOUCHED; the shard's vectors attach at the base
    * layer only (the asymptotically-certain HNSW level draw for a
    * o(n)-sized landing), by beam-searching the frozen index — each
    * shard vector's top-`m` unrounded-cos search results become its
    * out-edges, and each touched history node accepts at most `m`
    * shard in-edges (cos-ranked, dst-asc ties), so base-layer degree
    * stays O(m) without re-trimming history edges. History vectors
    * are never re-scanned beyond the searches the shard itself runs;
    * old-old pairs can never form (one join side is always the
    * shard). */
  def append(emb: DataFrame, shardFilter: Column, m: Int = 6,
             beam: Int = 8): Index = {
    val ix = build(emb.filter(!shardFilter), m)
    val eFull = emb
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .withColumn("nrm", sqrt(Dedup.dot(col("v"), col("v"))))
      .shared("append.eFull") // node table for the augmented searches
    val shard = eFull.filter(shardFilter)
      .select(col("vec_id").as("probe_id"), col("v").as("pv"),
        col("nrm").as("pn"))
    val attach = searchProbes(ix, shard, k = m, beam = beam)
      .once("append.attach") // feeds both edge directions
    val outE = attach
      .select(col("probe_id").as("src"), col("neighbor_id").as("dst"))
    val wIn = Window.partitionBy("src").orderBy(col("cos").desc, col("dst"))
    val inE = attach
      .select(col("neighbor_id").as("src"), col("probe_id").as("dst"),
        col("cos"))
      .withColumn("r", row_number().over(wIn)).filter(col("r") <= m)
      .select("src", "dst")
    Index(eFull, ix.adj2, ix.adj1,
      ix.adj0.unionByName(outE).unionByName(inE),
      ix.entry)
  }
}
