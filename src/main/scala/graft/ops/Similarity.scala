package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.ops.PlanBarrier.Barrier

/** Approximate-nearest-neighbor search over
  * `embeddings(vec_id, embedding: array<float>, label)`.
  *
  * Two paths, per SURVEY §4:
  *  - brute force: exact cosine top-k, valid ONLY when the probe set is
  *    broadcast-able (it is joined with an explicit `broadcast()`, so
  *    the corpus is scanned once with no shuffle of the big side);
  *  - LSH: random-hyperplane signatures bucket both sides; probes and
  *    corpus co-shuffle on the bucket id, so each bucket's candidate
  *    set is tiny compared with the corpus. The scale path — recall is
  *    tunable via planes/probes-per-bucket.
  */
object Similarity {

  /** Exact cosine top-k for each probe (probe set must be small —
    * broadcast). Per-vector norms are precomputed, so each
    * probe×corpus cell costs one array fold.
    * Output: probe_id, rank, neighbor_id, cos (4dp). */
  def bruteForceTopK(emb: DataFrame, probeFilter: Column, k: Int = 5): DataFrame = {
    graft.functions.DotProduct.register(emb.sparkSession)
    val e = emb.select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .withColumn("nrm", sqrt(Dedup.dot(col("v"), col("v"))))
    val probes = e.filter(probeFilter)
      .select(col("vec_id").as("probe_id"), col("v").as("pv"), col("nrm").as("pn"))
    val cos = Dedup.dot(col("pv"), col("v")) / (col("pn") * col("nrm"))
    val w   = Window.partitionBy("probe_id").orderBy(col("cos").desc, col("vec_id"))
    e.join(broadcast(probes), col("vec_id") =!= col("probe_id"))
      .select(col("probe_id"), col("vec_id"), cos.as("cos"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("probe_id"), col("rank"), col("vec_id").as("neighbor_id"),
        round(col("cos"), 4).as("cos"))
  }

  /** Deterministic random hyperplanes: `planes(seed)(p)(d)`. */
  def hyperplanes(planes: Int, dim: Int, seed: Long = 42L): Array[Array[Double]] = {
    val rnd = new scala.util.Random(seed)
    Array.fill(planes, dim)(rnd.nextGaussian())
  }

  /** Sign-bit signature of `v` against the hyperplanes, as an int bucket id. */
  def bucketOf(v: Column, planes: Array[Array[Double]]): Column =
    planes.zipWithIndex.map { case (p, i) =>
      val plane = array(p.map(lit): _*)
      when(Dedup.dot(v, plane) > 0, lit(1 << i)).otherwise(lit(0))
    }.reduce((a, b) => a.bitwiseOR(b))

  /** IVF (inverted-file) ANN: the corpus is coarse-quantized into
    * `cells` Voronoi cells (deterministic pseudo-random seeds +
    * `lloydIters` Lloyd refinement steps, both distributed; only the
    * k×dim centroid matrix ever reaches the driver), each vector is
    * assigned to its nearest centroid, and a probe searches only its
    * `nprobe` nearest cells — the corpus side of the search join is an
    * equi-join on cell id, so a probe touches ~nprobe/cells of the
    * data.
    *
    * Sizing at scale: the classic heuristic is cells ≈ √n (per-cell
    * lists of ~√n vectors balance quantizer cost against list-scan
    * cost), nprobe a small fraction of cells chosen from a measured
    * recall sweep — `ann_ivf_cells_sweep` IS that measurement. The
    * defaults here are test-scale (n≈500); a 100 TB deployment passes
    * its own cells/nprobe/lloydIters and persists the assigned index.
    * Output: probe_id, rank, neighbor_id, cos (4dp), cell. */
  def ivfTopK(emb: DataFrame, probeFilter: Column, k: Int = 5,
              cells: Int = 16, nprobe: Int = 4,
              lloydIters: Int = 1,
              buildFilter: Column = lit(true)): DataFrame = {
    graft.functions.DotProduct.register(emb.sparkSession)
    val e = emb.select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .withColumn("nrm", sqrt(Dedup.dot(col("v"), col("v"))))
    val refined = ivfCentroids(e, cells, lloydIters, buildFilter)
    val corpus = e.withColumn("cell", nearestCell(col("v"), col("nrm"), refined))
    val probes = corpus.filter(probeFilter)
      .select(col("vec_id").as("probe_id"), col("v").as("pv"), col("nrm").as("pn"),
        explode(nearestCells(col("v"), col("nrm"), refined, nprobe)).as("cell"))
    val cos = Dedup.dot(col("pv"), col("v")) / (col("pn") * col("nrm"))
    val w   = Window.partitionBy("probe_id").orderBy(col("cos").desc, col("vec_id"))
    corpus.join(probes, Seq("cell"))
      .filter(col("vec_id") =!= col("probe_id"))
      .select(col("probe_id"), col("vec_id"), col("cell"), cos.as("cos"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("probe_id"), col("rank"), col("vec_id").as("neighbor_id"),
        round(col("cos"), 4).as("cos"), col("cell"))
  }

  /** The coarse-quantizer training shared by [[ivfTopK]] and
    * [[ivfAssign]]. Index maintenance at scale: `buildFilter`
    * restricts the TRAINING set (seed sample + Lloyd refinement) —
    * e.g. to an earlier corpus generation — while assignment and
    * search always cover the full corpus, so a new landing shard is
    * searchable by pure assignment against the frozen centroids, with
    * NO re-clustering of history (ann_ivf_append measures the recall
    * cost of exactly this staleness).
    *
    * Deterministic pseudo-random seed sample (multiplicative-hash
    * ordered — engine-neutral, so the DuckDB oracle re-derives the
    * same seeds), then Lloyd steps: assign → per-cell elementwise
    * mean via posexplode. Each mean is quantized to 6dp so the
    * refined centroids are identical across engines regardless of
    * float summation order (fixed-point centroids — no quality impact
    * at this precision, deterministic assignment everywhere). Only
    * the cells×dim centroid matrix reaches the driver. */
  private def ivfCentroids(e: DataFrame, cells: Int, lloydIters: Int,
                           buildFilter: Column): Array[Centroid] =
    ivfCentroidSteps(e, cells, lloydIters, buildFilter).last

  /** Every intermediate quantizer state (seeds at index 0, then one
    * per Lloyd step) — [[lloydCurve]] audits the whole trajectory;
    * [[ivfCentroids]] consumes only the final state. */
  private def ivfCentroidSteps(e: DataFrame, cells: Int, lloydIters: Int,
                               buildFilter: Column): IndexedSeq[Array[Centroid]] = {
    require(lloydIters >= 0 && lloydIters <= 64,
      s"lloydIters out of range: $lloydIters")
    val eb = e.filter(buildFilter)
    val seeds = centroidRows(
      eb.orderBy(pmod(col("vec_id") * lit(2654435761L), lit(1000003L)), col("vec_id"))
        .limit(cells).select(col("v")).collect().map(_.getSeq[Double](0).toArray))
    require(seeds.length == cells,
      s"IVF needs >= cells=$cells build-set vectors to seed the coarse " +
      s"quantizer; got ${seeds.length} — lower cells for tiny inputs")
    (1 to lloydIters).scanLeft(seeds) { (cents, _) =>
      centroidRows(
        eb.withColumn("cell", nearestCell(col("v"), col("nrm"), cents))
          .select(col("cell"), posexplode(col("v")).as(Seq("pos", "x")))
          .groupBy("cell", "pos").agg(round(avg("x"), 6).as("m"))
          .groupBy("cell")
          .agg(transform(array_sort(collect_list(struct(col("pos"), col("m")))),
            s => s.getField("m")).as("c"))
          .orderBy("cell")
          .collect().map(_.getSeq[Double](1).toArray))
    }
  }

  /** Lloyd CONVERGENCE audit for the IVF coarse quantizer — the
    * measurement behind ivfTopK's lloydIters sizing: per refinement
    * iteration, how many vectors changed cell (n_moved → 0 as the
    * quantizer settles) and the total cosine inertia Σ(1 − cos) of
    * the assignment. Inertia is quantized per ROW to u6 half-up
    * integer units BEFORE the sum, so the emitted totals are
    * accumulation-order-proof (§5). The corpus is checkpointed once
    * and scanned once per state; only the cells×dim centroid
    * matrices reach the driver (the ivfCentroids contract). */
  def lloydCurve(emb: DataFrame, cells: Int = 16, iters: Int = 2): DataFrame = {
    graft.functions.DotProduct.register(emb.sparkSession)
    val e = emb.select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .withColumn("nrm", sqrt(Dedup.dot(col("v"), col("v"))))
      .once("lloydCurve.e") // feeds every training + assignment pass
    val states = ivfCentroidSteps(e, cells, iters, lit(true))
    val assigned = states.zipWithIndex.map { case (cents, t) =>
      val best = array_max(centroidSims(col("v"), col("nrm"), cents))
      e.select(col("vec_id"), best.getField("idx").as(s"cell_$t"),
        round((lit(1.0) - best.getField("sim")) * lit(1000000.0), 0)
          .cast("long").as(s"d_$t"))
    }
    val joined = assigned.reduce((a, b) => a.join(b, "vec_id"))
      .shared("lloydCurve.joined") // re-aggregated once per iteration row
    (0 to iters).map { t =>
      val moved =
        if (t == 0) sum(lit(0L))
        else sum((col(s"cell_$t") =!= col(s"cell_${t - 1}")).cast("long"))
      joined.agg(count(lit(1)).as("n_vecs"), moved.as("n_moved"),
          sum(col(s"d_$t")).as("inertia_u6"))
        .select(lit(t.toLong).as("iter"), col("n_vecs"), col("n_moved"),
          col("inertia_u6"))
    }.reduce(_.unionByName(_)).orderBy("iter")
  }

  /** The frozen coarse quantizer as a pure assignment EXPRESSION over
    * caller-supplied (vector, norm) columns: trains on `emb` rows
    * passing `buildFilter` exactly like [[ivfAssign]], then returns the
    * nearest-cell column — a stateless, shuffle-free per-row map. This
    * is the landing-shard contract: a stream of arriving vectors is
    * cell-assigned map-side against the literal centroid matrix (the
    * same bounded ≤cells-row driver pull as every IVF entry point),
    * with no join and no state beyond the expression itself.
    * `stream_ivf_ingest` is the consumer. */
  def frozenCellExpr(emb: DataFrame, cells: Int = 16, lloydIters: Int = 1,
                     buildFilter: Column = lit(true))
                    (v: Column, nrm: Column): Column = {
    graft.functions.DotProduct.register(emb.sparkSession)
    val e = emb.select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .withColumn("nrm", sqrt(Dedup.dot(col("v"), col("v"))))
    nearestCell(v, nrm, ivfCentroids(e, cells, lloydIters, buildFilter))
  }

  /** The IVF coarse assignment alone: (vec_id, v, nrm, cell) — the
    * index build without the search join, for occupancy audits
    * (emb_ivf_balance) and index-append flows. */
  def ivfAssign(emb: DataFrame, cells: Int = 16, lloydIters: Int = 1,
                buildFilter: Column = lit(true)): DataFrame = {
    graft.functions.DotProduct.register(emb.sparkSession)
    val e = emb.select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .withColumn("nrm", sqrt(Dedup.dot(col("v"), col("v"))))
    e.withColumn("cell",
      nearestCell(col("v"), col("nrm"), ivfCentroids(e, cells, lloydIters, buildFilter)))
  }

  /** The SemDeDup/D4 blocking dial DERIVED from corpus size (VERDICT
    * r14 item 1): cells = max(4, ⌊√n⌋), n = the build-set row count.
    * This is the repo's own `ann_ivf_cells_sweep` sizing doctrine made
    * binding for the semantic-dedup family: with cells ≈ √n the
    * expected per-cell population is ≈ √n, so the in-cell pair space
    * Σ|cell|² stays ≈ n^1.5 (never the fixed-dial n²/16 that made a
    * pinned cells=16 the dominant shuffle at a 100× scale-up), while
    * the driver-side centroid matrix stays a bounded √n×dim pull
    * (31623×64 doubles at n=10⁹ — trivial). SemDeDup itself runs ~10⁵
    * clusters at web scale, i.e. exactly this regime.
    *
    * Engine parity: the DuckDB oracles re-derive the identical dial as
    * `GREATEST(4, CAST(floor(sqrt(count(*))) AS BIGINT))`. Both
    * engines take IEEE-754 correctly-rounded sqrt of an exact integer
    * double, so ⌊√n⌋ agrees everywhere for n < 2^52 (the nearest
    * double to √n deviates by ~1e-16·√n, far below the ~1/(2√n) gap
    * to the next integer). The count() is one driver scalar — the
    * bounded-pull doctrine, same class as emb_cell_drift's thr.
    * Floor of 4 keeps tiny fixtures seedable (needs n ≥ cells, and
    * ⌊√n⌋ ≤ n for n ≥ 4); a corpus under 4 vectors is below the
    * operator's domain. */
  def semCells(emb: DataFrame, buildFilter: Column = lit(true)): Int = {
    val n = emb.filter(buildFilter).count()
    math.max(4L, math.sqrt(n.toDouble).toLong).toInt
  }

  /** [[ivfAssign]] plus the quantized own-centroid cosine — the
    * prototypicality signal D4-style pruning ranks on. Quantization
    * follows the [[ivfSilhouette]] doctrine: per-row float work only,
    * half-up ×10⁴ BEFORE anything aggregates or ranks, so downstream
    * order is integer-deterministic. Element 1 of the desc-sorted sims
    * array is exactly nearestCell's max-tie choice, so `cell` equals
    * [[ivfAssign]]'s. Returns (vec_id, v, nrm, cell, cos_u4). */
  def ivfAssignWithSim(emb: DataFrame, cells: Int = 16,
                       lloydIters: Int = 1): DataFrame = {
    graft.functions.DotProduct.register(emb.sparkSession)
    val e = emb.select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .withColumn("nrm", sqrt(Dedup.dot(col("v"), col("v"))))
    val cs = ivfCentroids(e, cells, lloydIters, lit(true))
    val sims = reverse(array_sort(centroidSims(col("v"), col("nrm"), cs)))
    e.select(col("vec_id"), col("v"), col("nrm"),
      element_at(sims, 1).getField("idx").cast("long").as("cell"),
      round(element_at(sims, 1).getField("sim") * 10000).cast("bigint")
        .as("cos_u4"))
  }

  /** Simplified silhouette (Kaufman–Rousseeuw's centroid variant) of
    * the IVF coarse quantizer: per vector, a = cosine distance to its
    * OWN centroid (the nearest by construction) and b = distance to
    * the runner-up centroid, so s = (b−a)/b = (s₁−s₂)/(1−s₂) — the
    * cluster-quality number deciding whether the cells carve real
    * structure or slice noise (emb_ivf_balance sees only occupancy;
    * this sees geometry). Per-ROW float work only (the two top sims),
    * quantized half-up to ×10⁴ BEFORE any aggregation, so the per-cell
    * means are integer sums with no float accumulation order anywhere;
    * a degenerate s₂ ≥ 1 (vector equidistant to two identical
    * centroids) scores 0 rather than dividing by zero. One corpus
    * scan; only the cells×dim centroid matrix leaves the driver.
    *
    * Returns (vec_id, cell, s_u4) — callers aggregate. */
  def ivfSilhouette(emb: DataFrame, cells: Int = 16,
                    lloydIters: Int = 1): DataFrame = {
    graft.functions.DotProduct.register(emb.sparkSession)
    val e = emb.select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .withColumn("nrm", sqrt(Dedup.dot(col("v"), col("v"))))
    val cs = ivfCentroids(e, cells, lloydIters, lit(true))
    // desc (sim, idx) order: element 1 == nearestCell's max-tie choice
    val sims = reverse(array_sort(centroidSims(col("v"), col("nrm"), cs)))
    e.select(col("vec_id"),
        element_at(sims, 1).getField("idx").cast("long").as("cell"),
        element_at(sims, 1).getField("sim").as("s1"),
        element_at(sims, 2).getField("sim").as("s2"))
      .select(col("vec_id"), col("cell"),
        when(col("s2") >= 1.0d, 0L)
          .otherwise(expr("CAST(round((s1 - s2) / (1 - s2) * 10000) AS BIGINT)"))
          .as("s_u4"))
  }

  private final case class Centroid(vec: Array[Double], norm: Double)

  private def centroidRows(vs: Array[Array[Double]]): Array[Centroid] =
    vs.map(v => Centroid(v, math.sqrt(v.map(x => x * x).sum)))

  /** Similarity of `v` to each centroid, as (sim, idx) structs. */
  private def centroidSims(v: Column, nrm: Column, cs: Array[Centroid]): Column =
    array(cs.zipWithIndex.map { case (c, i) =>
      val cv  = array(c.vec.map(lit): _*)
      val sim = Dedup.dot(v, cv) / (nrm * lit(c.norm))
      struct(sim.as("sim"), lit(i).as("idx"))
    }: _*)

  /** Index of the nearest centroid (max cosine; struct compare breaks
    * float ties by the higher idx — deterministic either way). */
  private def nearestCell(v: Column, nrm: Column, cs: Array[Centroid]): Column =
    array_max(centroidSims(v, nrm, cs)).getField("idx")

  /** Indices of the `nprobe` nearest centroids. */
  private def nearestCells(v: Column, nrm: Column, cs: Array[Centroid], nprobe: Int): Column =
    transform(slice(reverse(array_sort(centroidSims(v, nrm, cs))), 1, nprobe),
      s => s.getField("idx"))

  /** Product-quantization (PQ) ANN: embeddings are normalized and cut
    * into `m` sub-vectors; each subspace gets a `ksub`-centroid
    * codebook (deterministic multiplicative-hash seed sample + one
    * distributed Lloyd step, means quantized to 6dp so the refined
    * codebooks are bit-identical across engines), and every corpus
    * vector is ENCODED as m small codes — 8 bytes instead of 512 for
    * a 64-dim float vector, which is the whole point at 100 TB: the
    * search side of the join carries only (vec_id, bucket, codes).
    * Candidates come from the same sign-bit hyperplane buckets as
    * [[lshTopK]] (equi-join — no product join anywhere), and ranking
    * uses the asymmetric distance: exact probe sub-vectors against the
    * corpus codes' reconstructed centroids,
    * adc = Σ_j ‖p_j − c_j[code_j]‖² expanded as pn²+cn²−2·p·c so both
    * engines evaluate the identical fixed-order arithmetic. Only the
    * m×ksub×(dim/m) codebook (1024 doubles) ever reaches the driver.
    * Output: probe_id, rank, neighbor_id, adc (6dp), bucket. */
  def pqTopK(emb: DataFrame, probeFilter: Column, k: Int = 5,
             m: Int = 8, ksub: Int = 16, numPlanes: Int = 4,
             seed: Long = 42L): DataFrame = {
    graft.functions.DotProduct.register(emb.sparkSession)
    val dim = 64; val sub = dim / m
    val planes = hyperplanes(numPlanes, dim, seed)
    val e = emb.select(col("vec_id"), col("embedding").cast("array<double>").as("v0"))
      .withColumn("nrm", sqrt(Dedup.dot(col("v0"), col("v0"))))
      .withColumn("v", transform(col("v0"), x => x / col("nrm")))
      .withColumn("bucket", bucketOf(col("v0"), planes))
      .drop("v0", "nrm")
      .once("pqTopK.e") // feeds seed sample, Lloyd step, encode, search

    def subCol(v: Column, j: Int) = slice(v, j * sub + 1, sub)
    // nearest sub-centroid of subspace j (min L2², tie → lower code)
    def assignCode(v: Column, j: Int, cb: Array[Array[Double]]): Column = {
      val s   = subCol(v, j)
      val sn2 = Dedup.dot(s, s)
      array_min(array(cb.zipWithIndex.map { case (c, ci) =>
        val cn2 = c.map(x => x * x).sum
        struct((sn2 + lit(cn2) - lit(2.0) * Dedup.dot(s, array(c.map(lit): _*)))
          .as("d"), lit(ci).as("code"))
      }: _*)).getField("code")
    }

    // seed codebooks: the same ksub corpus vectors for every subspace
    // (multiplicative-hash ordered — engine-neutral, oracle re-derives)
    val seedVecs = e
      .orderBy(pmod(col("vec_id") * lit(2654435761L), lit(1000003L)), col("vec_id"))
      .limit(ksub).select(col("v")).collect().map(_.getSeq[Double](0).toArray)
    require(seedVecs.length == ksub,
      s"pqTopK needs >= ksub=$ksub corpus vectors to seed the codebooks; " +
      s"got ${seedVecs.length} — lower ksub for tiny inputs")
    val cb0: Array[Array[Array[Double]]] =
      Array.tabulate(m, ksub)((j, c) => seedVecs(c).slice(j * sub, (j + 1) * sub))

    // one Lloyd step, all subspaces in ONE distributed pass: assign
    // with the seed codebooks, then per-(subspace, code, dim) mean.
    // Only the 6dp-quantized means (m·ksub·sub rows) reach the driver.
    // The assignment expression is m·ksub struct branches — far past
    // janino's method-size limit when fused into the aggregate stage
    // (the whole stage then falls back to INTERPRETED execution), so
    // the encoded projection is materialized first: the aggregate
    // compiles against a plain scan, and the giant expression is
    // evaluated exactly once. This is the index-build/search boundary
    // a real deployment persists anyway.
    val codes0 = array((0 until m).map(j => assignCode(col("v"), j, cb0(j))): _*)
    val means = e.select(col("v"), codes0.as("codes"))
      .select(col("v"), posexplode(col("codes")).as(Seq("j", "code")))
      .select(col("j"), col("code"),
        posexplode(slice(col("v"), col("j") * sub + 1, lit(sub))).as(Seq("d", "x")))
      .groupBy("j", "code", "d").agg(round(avg("x"), 6).as("mv"))
      .collect().map(r => (r.getInt(0), r.getInt(1), r.getInt(2)) -> r.getDouble(3))
      .toMap
    // empty cells (possible only if two seeds share a sub-vector) keep
    // their seed centroid — the oracle coalesces identically
    val cb1: Array[Array[Array[Double]]] =
      Array.tabulate(m, ksub, sub)((j, c, d) => means.getOrElse((j, c, d), cb0(j)(c)(d)))

    // materialized encode (see the Lloyd-step note): the search join
    // reads (vec_id, bucket, 8 codes) — the compressed index itself
    val corpus = e.select(col("vec_id"), col("bucket"),
      array((0 until m).map(j => assignCode(col("v"), j, cb1(j))): _*).as("codes"))
    val probes = e.filter(probeFilter)
      .select(col("vec_id").as("probe_id"), col("v").as("pv"), col("bucket"))
    val adc = (0 until m).map { j =>
      val ps     = subCol(col("pv"), j)
      val code   = element_at(col("codes"), j + 1)
      val cbLit  = array(cb1(j).map(c => array(c.map(lit): _*)): _*)
      val cn2Lit = array(cb1(j).map(c => lit(c.map(x => x * x).sum)): _*)
      Dedup.dot(ps, ps) + element_at(cn2Lit, code + 1) -
        lit(2.0) * Dedup.dot(ps, element_at(cbLit, code + 1))
    }.reduce(_ + _)
    val w = Window.partitionBy("probe_id").orderBy(col("adc").asc, col("vec_id"))
    corpus.join(probes, Seq("bucket"))
      .filter(col("vec_id") =!= col("probe_id"))
      .select(col("probe_id"), col("vec_id"), col("bucket"), adc.as("adc"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("probe_id"), col("rank"), col("vec_id").as("neighbor_id"),
        round(col("adc"), 6).as("adc"), col("bucket"))
  }

  /** IVF-PQ ANN — the classic billion-scale composition: an IVF coarse
    * quantizer partitions the corpus into `cells` Voronoi cells, and a
    * product quantizer encodes each vector's RESIDUAL (v − centroid)
    * as m small codes. The corpus side of the search join carries only
    * (vec_id, cell, codes) — 8 bytes of payload per vector instead of
    * 512 — and a probe opens only its `nprobe` nearest cells
    * (equi-join on cell id, no product join anywhere). Residuals are
    * what make PQ accurate here: within a cell they are centered near
    * zero, so the shared codebooks spend their 16 centroids per
    * subspace on a much tighter distribution than raw vectors.
    *
    * Determinism contract (mirrors ivfTopK/pqTopK): multiplicative-hash
    * seed samples, ONE distributed Lloyd step with 6dp-quantized means
    * (empty cells keep their seed — no index re-packing), assignment by
    * argmin of the fixed-order expression cn² − 2·v·c with ties to the
    * LOWER index, and the full ADC Σ_j (‖rp_j‖² + ‖c_j‖² − 2·rp_j·c_j)
    * at search time (residuals differ per probed cell, so the rp term
    * cannot be dropped when candidates from different cells compete).
    * Only the cells×dim coarse matrix and the m×ksub×(dim/m) codebook
    * ever reach the driver.
    * Output: probe_id, rank, neighbor_id, adc (6dp), cell. */
  def ivfPqTopK(emb: DataFrame, probeFilter: Column, k: Int = 5,
                cells: Int = 8, nprobe: Int = 2,
                m: Int = 8, ksub: Int = 16): DataFrame = {
    graft.functions.DotProduct.register(emb.sparkSession)
    val dim = 64; val sub = dim / m
    val e = emb.select(col("vec_id"), col("embedding").cast("array<double>").as("v0"))
      .withColumn("nrm", sqrt(Dedup.dot(col("v0"), col("v0"))))
      .withColumn("v", transform(col("v0"), x => x / col("nrm")))
      .drop("v0", "nrm")
      .once("ivfPqTopK.e") // feeds seed sample, Lloyd, assign, search

    // argmin over centroids of cn² − 2·v·c (the v² term is constant
    // per row, so it cannot change the argmin; dropping it keeps the
    // comparison expression short and fixed-order). Ties → lower idx.
    def cellSims(v: Column, cs: Array[Array[Double]]): Column =
      array(cs.zipWithIndex.map { case (c, i) =>
        val cl = array(c.map(lit): _*)
        val d  = lit(c.map(x => x * x).sum) - lit(2.0) * Dedup.dot(v, cl)
        struct(d.as("d"), lit(i).as("idx"))
      }: _*)
    def nearestIdx(v: Column, cs: Array[Array[Double]]): Column =
      array_min(cellSims(v, cs)).getField("idx")
    def nearestIdxs(v: Column, cs: Array[Array[Double]], np: Int): Column =
      transform(slice(array_sort(cellSims(v, cs)), 1, np), s => s.getField("idx"))

    val hashOrder = Seq(pmod(col("vec_id") * lit(2654435761L), lit(1000003L)),
      col("vec_id"))

    // coarse quantizer: seed sample + one Lloyd step (6dp means,
    // empty cell keeps its seed)
    val seeds = e.orderBy(hashOrder: _*).limit(cells)
      .select("v").collect().map(_.getSeq[Double](0).toArray)
    require(seeds.length == cells,
      s"ivfPqTopK needs >= cells=$cells corpus vectors to seed the coarse " +
      s"quantizer; got ${seeds.length} — lower cells for tiny inputs")
    val cmeans = e.withColumn("cell", nearestIdx(col("v"), seeds))
      .select(col("cell"), posexplode(col("v")).as(Seq("d", "x")))
      .groupBy("cell", "d").agg(round(avg("x"), 6).as("mv"))
      .collect().map(r => (r.getInt(0), r.getInt(1)) -> r.getDouble(2)).toMap
    val coarse = Array.tabulate(cells, dim)((c, d) => cmeans.getOrElse((c, d), seeds(c)(d)))
    val coarseLit = array(coarse.map(c => array(c.map(lit): _*)): _*)

    val assigned = e.withColumn("cell", nearestIdx(col("v"), coarse))
      .withColumn("r", zip_with(col("v"),
        element_at(coarseLit, col("cell") + 1), (a, b) => a - b))
      .once("nearestIdxs.assigned") // feeds residual seeds, Lloyd, encode, search

    // PQ codebooks trained on the residuals (same seed-sample + one
    // 6dp-quantized Lloyd step as pqTopK, seed fallback for empty codes)
    def assignCode(r: Column, j: Int, cb: Array[Array[Double]]): Column = {
      val s = slice(r, j * sub + 1, sub)
      array_min(array(cb.zipWithIndex.map { case (c, ci) =>
        struct((lit(c.map(x => x * x).sum)
          - lit(2.0) * Dedup.dot(s, array(c.map(lit): _*)))
          .as("d"), lit(ci).as("code"))
      }: _*)).getField("code")
    }
    val rseeds = assigned.orderBy(hashOrder: _*).limit(ksub)
      .select("r").collect().map(_.getSeq[Double](0).toArray)
    require(rseeds.length == ksub,
      s"ivfPqTopK needs >= ksub=$ksub corpus vectors to seed the residual " +
      s"codebooks; got ${rseeds.length} — lower ksub for tiny inputs")
    val cb0: Array[Array[Array[Double]]] =
      Array.tabulate(m, ksub)((j, c) => rseeds(c).slice(j * sub, (j + 1) * sub))
    // materialize the seed-codebook encode before the Lloyd aggregate —
    // the m·ksub-branch assignment fused into the aggregate stage blows
    // janino's method limit and drops the stage to interpreted execution
    // (see pqTopK's Lloyd-step note)
    val codes0 = array((0 until m).map(j => assignCode(col("r"), j, cb0(j))): _*)
    val rmeans = assigned.select(col("r"), codes0.as("codes"))
      .select(col("r"), posexplode(col("codes")).as(Seq("j", "code")))
      .select(col("j"), col("code"),
        posexplode(slice(col("r"), col("j") * sub + 1, lit(sub))).as(Seq("d", "x")))
      .groupBy("j", "code", "d").agg(round(avg("x"), 6).as("mv"))
      .collect().map(r => (r.getInt(0), r.getInt(1), r.getInt(2)) -> r.getDouble(3))
      .toMap
    val cb1: Array[Array[Array[Double]]] =
      Array.tabulate(m, ksub, sub)((j, c, d) => rmeans.getOrElse((j, c, d), cb0(j)(c)(d)))

    // the materialized index: (vec_id, cell, 8 codes) — what a real
    // deployment persists; the search join reads only this
    val corpus = assigned.select(col("vec_id"), col("cell"),
      array((0 until m).map(j => assignCode(col("r"), j, cb1(j))): _*).as("codes"))
    val probes = assigned.filter(probeFilter)
      .select(col("vec_id").as("probe_id"), col("v").as("pv"),
        explode(nearestIdxs(col("v"), coarse, nprobe)).as("cell"))
      .withColumn("rp", zip_with(col("pv"),
        element_at(coarseLit, col("cell") + 1), (a, b) => a - b))
    val adc = (0 until m).map { j =>
      val ps     = slice(col("rp"), j * sub + 1, sub)
      val code   = element_at(col("codes"), j + 1)
      val cbLit  = array(cb1(j).map(c => array(c.map(lit): _*)): _*)
      val cn2Lit = array(cb1(j).map(c => lit(c.map(x => x * x).sum)): _*)
      Dedup.dot(ps, ps) + element_at(cn2Lit, code + 1) -
        lit(2.0) * Dedup.dot(ps, element_at(cbLit, code + 1))
    }.reduce(_ + _)
    val w = Window.partitionBy("probe_id").orderBy(col("adc").asc, col("vec_id"))
    corpus.join(probes, Seq("cell"))
      .filter(col("vec_id") =!= col("probe_id"))
      .select(col("probe_id"), col("vec_id"), col("cell"), adc.as("adc"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("probe_id"), col("rank"), col("vec_id").as("neighbor_id"),
        round(col("adc"), 6).as("adc"), col("cell"))
  }

  /** LSH-bucketed ANN: probes and corpus are hashed to hyperplane
    * sign buckets and equi-joined on the bucket id; top-k is computed
    * inside the bucket. Output: probe_id, rank, neighbor_id, cos (4dp),
    * bucket. Neighbors in other buckets are missed — that is the
    * approximation; recall grows as `numPlanes` shrinks. */
  def lshTopK(emb: DataFrame, probeFilter: Column, k: Int = 5,
              numPlanes: Int = 8, seed: Long = 42L): DataFrame = {
    graft.functions.DotProduct.register(emb.sparkSession)
    val dim    = 64
    val planes = hyperplanes(numPlanes, dim, seed)
    val e = emb.select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .withColumn("bucket", bucketOf(col("v"), planes))
      .withColumn("nrm", sqrt(Dedup.dot(col("v"), col("v"))))
    val probes = e.filter(probeFilter)
      .select(col("vec_id").as("probe_id"), col("v").as("pv"), col("nrm").as("pn"), col("bucket"))
    val cos = Dedup.dot(col("pv"), col("v")) / (col("pn") * col("nrm"))
    val w   = Window.partitionBy("probe_id").orderBy(col("cos").desc, col("vec_id"))
    e.join(probes, Seq("bucket"))
      .filter(col("vec_id") =!= col("probe_id"))
      .select(col("probe_id"), col("vec_id"), col("bucket"), cos.as("cos"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("probe_id"), col("rank"), col("vec_id").as("neighbor_id"),
        round(col("cos"), 4).as("cos"), col("bucket"))
  }
}
