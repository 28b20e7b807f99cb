package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** MERGE-style upsert without a transactional table format — the concrete
  * form of SCALE.md's "dedup-on-read by key is the upgrade path where Delta
  * would slot in". Latest-wins by (key, version ordering):
  *
  *  - [[latestWins]] is the shared resolve primitive (also backing bronze
  *    dedup B3): one row per key, max orderCol, ties broken by the ASCENDING
  *    content hash — the same winner bronze dedup picks.
  *  - [[merged]] = base ∪ updates → latestWins.
  *  - [[writeMerged]] materializes with dynamic-partition overwrite over
  *    exactly the partitions the batch can affect: the updates' partitions
  *    PLUS every base partition holding an updated key (so a key that moves
  *    partitions leaves no stale copy behind). The resolve reads only those
  *    partitions of base — a day's update batch never key-shuffles the
  *    whole table.
  *
  * Durability: the resolve is materialized to a sibling staging dir BEFORE
  * the destructive overwrite, so the overwrite's lineage never depends on
  * the files it replaces (a lost cache block mid-write cannot recompute
  * from half-replaced base files), and a crash mid-commit leaves the full
  * resolved batch on disk for replay. The staging dir is deleted on
  * success (in a finally once the overwrite has committed, so a
  * post-commit cleanup failure cannot leak it) and deliberately kept
  * (with its path in the error) on overwrite failure. Its name carries a
  * per-call unique suffix so a crashed run's leftover staging is never
  * clobbered or mistaken for a live one.
  *
  * Concurrency: SINGLE WRITER PER DEST. Two concurrent upserts to the
  * same dest would race the dynamic-partition overwrite itself (Spark's
  * partition overwrite is not transactional across jobs) — serialize
  * writers externally, or use a transactional table format for
  * multi-writer guarantees.
  */
object Upsert {

  /** One row per key: max orderCol wins, ties resolve by ascending content
    * hash (deterministic across runs/partitionings — the B3 contract). */
  def latestWins(df: DataFrame, keyCols: Seq[String], orderCol: String): DataFrame = {
    val tiebreak = xxhash64(df.columns.map(col).toIndexedSeq: _*)
    val w = Window.partitionBy(keyCols.map(col): _*)
      .orderBy(col(orderCol).desc, tiebreak.asc)
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn")
  }

  /** Pure resolve over the full inputs (no partition bounding). */
  def merged(base: DataFrame, updates: DataFrame, keyCols: Seq[String],
      orderCol: String): DataFrame =
    latestWins(base.unionByName(updates), keyCols, orderCol)

  /** Merge and rewrite ONLY the partitions the batch can affect. The
    * touched-partition list is collected to the driver — it is METADATA
    * (distinct partition values of one batch, days-scale), which buys
    * static partition pruning on the base scan and lets stale dirs be
    * dropped. Null partition values are kept (they resolve to the default
    * partition), never silently lost. */
  def writeMerged(base: DataFrame, updates: DataFrame, keyCols: Seq[String],
      orderCol: String, partCol: String, dest: String): Unit = {
    val spark = base.sparkSession
    val updKeys = updates.select(keyCols.map(c => col(c).as(s"__k_$c")): _*).distinct()
    // partitions the batch touches: where updates land + where their keys
    // already live in base (a partition-moving update must REMOVE the old
    // copy, so its old partition rewrites too). NULL-SAFE key equality:
    // latestWins groups NULL keys together, so the touched set must too.
    val keyMatch = keyCols.map(c => base(c) <=> updKeys(s"__k_$c")).reduce(_ && _)
    val touched = PartitionRewrite.touched(updates.select(col(partCol))
      .union(base.join(updKeys, keyMatch, "left_semi").select(col(partCol))), partCol)
    if (touched.isEmpty) return // empty batch: nothing to do
    // resolve over only the affected slice of base — statically
    // partition-pruned scan, shuffle bounded by the batch footprint.
    // Staging/overwrite/emptied-partition semantics (why staging beats
    // persist(), unique staging names, failure-path preservation, the
    // moved-key emptied-partition cleanup) live in [[PartitionRewrite]].
    val resolved = merged(base.filter(PartitionRewrite.inTouched(touched, partCol)),
      updates, keyCols, orderCol)
    PartitionRewrite.overwriteTouched(
      spark, resolved, touched.map(_._2), partCol, dest)
    ()
  }
}
