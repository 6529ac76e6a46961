package graft.streaming

import java.nio.file.{Files, Paths, StandardCopyOption}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.StructType

/** The one way a streaming operator commits state to disk.
  *
  * A store is a directory of batch ENTRIES `b<batchId>` and SNAPSHOTS
  * `snap-<n>`. A batch writes its rows with [[put]], which overwrites
  * its own entry: `foreachBatch` is at-least-once, and a replayed batch
  * replaces what its failed attempt wrote instead of adding to it.
  * History is never re-read at landing.
  *
  * A store's contents are the newest committed snapshot `snap-<n>` plus
  * every committed entry above it (`b<id>`, `id > n`) — what [[read]]
  * returns. An entry at or below the snapshot id is already folded in,
  * so a late replay of an old batch is ignored. A directory counts as
  * committed once Spark's job commit wrote its `_SUCCESS`; a write that
  * died half-way leaves a directory nothing reads.
  *
  * A store with a merge law — keyed sums, keyed minima, a bottom-k
  * re-limit: anything with fold(fold(A) ∪ B) = fold(A ∪ B) — bounds its
  * directory count with [[compact]]. Compaction folds the store into a
  * hidden `_snap-<max>.tmp` and [[commit]]s it by rename to
  * `snap-<max>`; only after that commit does it delete the superseded
  * entries and snapshots. A crash at any step leaves either the old
  * store or the new snapshot readable, never neither. The same
  * snapshot write versions the streaming CDC dimension ([[snapshot]]),
  * and [[commit]] is also the landing loop's generation promotion.
  *
  * Local renames stand in for a distributed deployment's table-format
  * commit; the protocol stays the same. */
private[graft] object Store {

  /** Entries a store keeps above its snapshot before [[compact]] folds
    * them all into a new one. A read then lists at most 17 paths, under
    * `spark.sql.sources.parallelPartitionDiscovery.threshold` (32), above
    * which Spark would run a listing job on every read. */
  val CompactAbove = 16

  /** Overwrite `dir`'s entry for `batchId` with `df`. */
  def put(df: DataFrame, dir: String, batchId: Long): Unit =
    df.write.mode("overwrite").parquet(s"$dir/b$batchId")

  /** The store's contents: the newest committed snapshot plus every
    * committed entry above it and below `before`. Before anything is
    * committed, an empty frame of `schema`; otherwise the files' own
    * schema. */
  def read(ss: SparkSession, dir: String, schema: StructType = new StructType(),
           before: Long = Long.MaxValue): DataFrame = {
    val (snap, ids) = committed(dir)
    val paths = snap.map(n => s"$dir/snap-$n").toSeq ++
      ids.filter(id => id > snap.getOrElse(-1L) && id < before).map(id => s"$dir/b$id")
    if (paths.isEmpty) ss.createDataFrame(java.util.List.of[Row](), schema)
    else ss.read.parquet(paths: _*)
  }

  /** Once more than [[CompactAbove]] entries sit above the snapshot,
    * fold the store by `fold` (its merge law) into a new snapshot; then
    * delete whatever a committed snapshot supersedes. */
  def compact(ss: SparkSession, dir: String, fold: DataFrame => DataFrame): Unit = {
    val (snap, ids) = committed(dir)
    val raw = ids.filter(_ > snap.getOrElse(-1L))
    val newest =
      if (raw.length <= CompactAbove) snap
      else { snapshot(dir, raw.max)(fold(read(ss, dir)).coalesce(1)); Some(raw.max) }
    for (f <- children(dir); n = f.getName)
      if (n.startsWith("_snap-") ||
          newest.exists(s => id(n, "b").exists(_ <= s) || id(n, "snap-").exists(_ < s)))
        graft.sources.Scratch.delete(f.toPath)
  }

  /** Write `df` as snapshot `n` of `dir` unless that one is committed:
    * `df` lands in the hidden `_snap-<n>.tmp`, and [[commit]] renames it
    * into place. `df` is not evaluated when the snapshot exists. */
  def snapshot(dir: String, n: Long)(df: => DataFrame): Unit =
    if (!isCommitted(s"$dir/snap-$n")) {
      df.write.mode("overwrite").parquet(s"$dir/_snap-$n.tmp")
      commit(s"$dir/_snap-$n.tmp", s"$dir/snap-$n")
    }

  /** The one rename: move `tmp` to `dst` atomically, replacing what an
    * earlier attempt left uncommitted at `dst`. */
  def commit(tmp: String, dst: String): Unit = {
    graft.sources.Scratch.delete(Paths.get(dst))
    Files.move(Paths.get(tmp), Paths.get(dst), StandardCopyOption.ATOMIC_MOVE)
    ()
  }

  private def children(dir: String): Seq[java.io.File] =
    Option(new java.io.File(dir).listFiles()).toSeq.flatten

  private def id(name: String, prefix: String): Option[Long] =
    Option.when(name.startsWith(prefix))(name.drop(prefix.length).toLongOption).flatten

  private def isCommitted(d: String): Boolean = new java.io.File(d, "_SUCCESS").exists

  /** The newest committed snapshot id and the committed entry ids. */
  private def committed(dir: String): (Option[Long], Seq[Long]) = {
    val done = children(dir).filter(f => isCommitted(f.getPath)).map(_.getName)
    (done.flatMap(id(_, "snap-")).maxOption, done.flatMap(id(_, "b")).sorted)
  }
}
