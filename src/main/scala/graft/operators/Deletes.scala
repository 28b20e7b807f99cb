package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Targeted key deletion from a partitioned parquet lake — the
  * right-to-be-forgotten / compliance-purge workflow, completing the
  * merge family: [[Upsert]] upserts keys, [[Scd2]] versions them, this
  * REMOVES them, physically, from every partition they inhabit.
  *
  * Same touched-partition contract as [[Upsert.writeMerged]]: the purge
  * rewrites ONLY the partitions that actually hold doomed keys (located
  * with one semi join — at 100 TB a purge batch touches days, not the
  * table), through the shared [[PartitionRewrite]] staging + dynamic
  * overwrite + emptied-partition cleanup path — so a partition whose
  * every row is purged disappears from disk rather than surviving as a
  * stale dir, and a crash mid-rewrite leaves the staged survivors for
  * replay. Single writer per dest (the [[Upsert]] concurrency note).
  *
  * Deletion is by ANTI JOIN on null-safe key equality: NULL keys in the
  * purge set match NULL-keyed rows (consistent with [[Upsert.latestWins]]
  * grouping NULL keys), never silently nothing.
  *
  * Replay idempotence: purging already-purged keys rewrites the touched
  * partitions to identical content (and a fully-purged batch touches
  * nothing at all) — the foreachBatch at-least-once argument of
  * [[graft.streaming.StreamingUpsert]] applies unchanged.
  */
object Deletes {

  /** Remove every row of `base` whose key tuple appears in `keys`;
    * `base` must be the current content of `dest`. Returns the number of
    * rows purged. No-op (returns 0) when no partition holds a doomed key. */
  def purgeKeys(base: DataFrame, keys: DataFrame, keyCols: Seq[String],
      partCol: String, dest: String): Long = {
    val spark = base.sparkSession
    val k = keys.select(keyCols.map(c => col(c).as(s"__k_$c")): _*).distinct()
    val keyMatch = keyCols.map(c => base(c) <=> k(s"__k_$c")).reduce(_ && _)
    // partitions holding at least one doomed key
    val touched = PartitionRewrite.touched(base.join(k, keyMatch, "left_semi"), partCol)
    if (touched.isEmpty) return 0L
    val slice = base.filter(PartitionRewrite.inTouched(touched, partCol))
    val sliceCount = slice.count()
    val sliceMatch = keyCols.map(c => slice(c) <=> k(s"__k_$c")).reduce(_ && _)
    val survivors = slice.join(k, sliceMatch, "left_anti")
    val kept = PartitionRewrite.overwriteTouched(
      spark, survivors, touched.map(_._2), partCol, dest)
    sliceCount - kept
  }
}
