package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import graft.ops.{Cluster, Dedup, SharedArtifacts}
import graft.ops.PlanBarrier.Barrier
import graft.sources.Tables

/** Process-wide memo of the FULL-CORPUS near-dup family artifacts —
  * the [[CapstonePrelude]] pattern applied to the dedup family's own
  * keys. Eight keys (dedup_ngram_jaccard, dedup_source_report,
  * dedup_cluster, dedup_effective_tokens, dedup_family_sizes,
  * dedup_cluster_purity, split_leakage, graph_pagerank) make the
  * byte-identical `ngramJaccard(documents, 3, 0.8, 50)` call, and five
  * of them also run the identical CC collapse on its output; a
  * production system computes the family table ONCE and every
  * downstream view reads it — that steady-state is what the memo
  * models. Each artifact is one [[SharedArtifacts.memo]] entry; the
  * later r17 additions (perceptual-hash and semantic-dedup tables)
  * follow the same rule. Results are deterministic (DF-capped posting buckets + exact verify; min-id CC
  * labels), so every consumer is byte-identical to a private rebuild. */
private[queries] object CorpusArtifacts {

  import SharedArtifacts.memo

  /** The full-corpus layered-graph ANN index — `Hnsw.build(embeddings,
    * m = 6)` is made identically by ann_hnsw, ann_hnsw_recall and
    * ann_hnsw_beam_sweep (the persisted-index posture: build once,
    * search at any beam width). Every member table is re-anchored as a
    * sweep-exempt shared checkpoint, materialized in dependency order
    * (node table first — the adjacencies' private lineage roots
    * there). ann_hnsw_append is NOT a consumer: its frozen-history
    * graph + shard attachment is the operator's own story. */
  def hnswIndex(s: SparkSession, dir: String): graft.ops.Hnsw.Index =
    memo(s, dir, "hnsw_index") { share =>
      val ix = graft.ops.Hnsw.build(Tables.embeddings(s, dir), m = 6)
      graft.ops.Hnsw.Index(share(ix.e.shared("hnsw_index.nodes")),
        share(ix.adj2.shared("hnsw_index.adj2")),
        share(ix.adj1.shared("hnsw_index.adj1")),
        share(ix.adj0.shared("hnsw_index.adj0")), ix.entry)
    }

  /** Verified near-dup pairs over the full documents table —
    * `Dedup.ngramJaccard(documents, n = 3, threshold = 0.8, maxDF = 50)`,
    * full output columns. */
  def nearDupPairs(s: SparkSession, dir: String): DataFrame =
    memo(s, dir, "neardup_pairs")(_(Dedup.ngramJaccard(
      Tables.documents(s, dir), n = 3, threshold = 0.8, maxDF = 50)
      .shared("neardup_pairs")))

  /** Converged CC family labels (doc_id, cluster_id) over
    * [[nearDupPairs]] for the full documents table. */
  def nearDupClusters(s: SparkSession, dir: String): DataFrame =
    memo(s, dir, "neardup_clusters")(_(Cluster.dedupClusters(
      Tables.documents(s, dir), nearDupPairs(s, dir)).shared("neardup_clusters")))

  /** The full-corpus perceptual-hash signature table —
    * `Multimodal.phashBatch(documents)` with every output column. Four
    * keys (mm_phash, mm_phash_dedup, mm_phash_families,
    * mm_phash_incremental) each re-ran the identical image decode +
    * aHash walk over the whole corpus; the hash is per-row
    * deterministic, so one shared pass is byte-identical per consumer
    * (r17 — the decode is the family's dominant per-key cost). */
  def phashSigs(s: SparkSession, dir: String): DataFrame =
    memo(s, dir, "phash_sigs")(_(
      graft.ops.Multimodal.phashBatch(Tables.documents(s, dir)).toDF()
        .shared("phash_sigs")))

  /** Verified radius-3 pigeonhole pairs over [[phashSigs]] — shared by
    * mm_phash_dedup (emits them) and mm_phash_families (CC over them):
    * the byte-identical `Multimodal.phashPairs(documents)` output. */
  def phashNearDupPairs(s: SparkSession, dir: String): DataFrame =
    memo(s, dir, "phash_pairs")(_(
      graft.ops.Multimodal.phashPairsFromSigs(
        phashSigs(s, dir).select("doc_id", "c0", "c1", "c2", "c3"))
        .shared("phash_pairs")))

  /** The semantic-dedup coarse assignment — `Similarity.ivfAssignWithSim`
    * on the √n-cell dial (vec_id, v, nrm, cell, cos_u4). `cell` equals
    * `ivfAssign`'s choice by the documented max-tie identity, so
    * dedup_semantic / dedup_semantic_sweep (which only need
    * vec_id/v/nrm/cell) and emb_d4_prune (which also ranks on cos_u4)
    * all read this one table; three keys each re-trained the identical
    * quantizer and re-assigned the identical corpus before r17. */
  def semAssigned(s: SparkSession, dir: String): DataFrame =
    memo(s, dir, "sem_assigned") { share =>
      val emb = Tables.embeddings(s, dir)
      share(graft.ops.Similarity.ivfAssignWithSim(emb,
        cells = graft.ops.Similarity.semCells(emb), lloydIters = 1)
        .shared("sem_assigned"))
    }

  /** In-cell near-dup candidate pairs over [[semAssigned]] at the
    * LOOSEST threshold any consumer uses (cos ≥ 0.30): (cell, id1,
    * id2, cos). Consumers filter `cos >= t` — the stored cosine is the
    * same double expression each key computed inline, so the filtered
    * row-set is byte-identical per threshold. */
  def semPairs30(s: SparkSession, dir: String): DataFrame =
    memo(s, dir, "sem_pairs") { share =>
      val assigned = semAssigned(s, dir)
      val a = assigned.select(col("cell"), col("vec_id").as("id1"),
        col("v").as("v1"), col("nrm").as("nrm1"))
      val b = assigned.select(col("cell"), col("vec_id").as("id2"),
        col("v").as("v2"), col("nrm").as("nrm2"))
      share(a.join(b, Seq("cell"))
        .filter(col("id1") < col("id2"))
        .withColumn("cos",
          Dedup.dot(col("v1"), col("v2")) / (col("nrm1") * col("nrm2")))
        .filter(col("cos") >= 0.30)
        .select(col("cell"), col("id1"), col("id2"), col("cos"))
        .shared("sem_pairs"))
    }

  /** Converged CC roots at the family's canonical 0.35 threshold —
    * (doc_id, cluster_id) over [[semPairs30]] filtered to cos ≥ 0.35.
    * Shared by dedup_semantic, dedup_semantic_sweep's middle rung and
    * emb_d4_prune (all three ran the identical collapse). */
  def semRoots35(s: SparkSession, dir: String): DataFrame =
    memo(s, dir, "sem_roots")(_(Cluster.dedupClusters(
      semAssigned(s, dir).select(col("vec_id").as("doc_id")),
      semPairs30(s, dir).filter(col("cos") >= 0.35).select("id1", "id2"))
      .shared("sem_roots")))
}
