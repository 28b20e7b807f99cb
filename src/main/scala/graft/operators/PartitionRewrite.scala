package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, lit}

/** Shared touched-partition code of the rewrite operators
  * ([[Upsert.writeMerged]], [[Deletes.purgeKeys]]): collect the touched
  * partition values, prune the base scan to them, materialize the
  * resolved slice to a staging dir, dynamic-partition-overwrite exactly
  * the touched partitions, delete partitions the rewrite EMPTIED (dynamic
  * overwrite only replaces partitions present in the output), and clean
  * up staging. All durability/failure semantics documented on [[Upsert]]
  * live here: staging is written before anything destructive, kept (with
  * its path in the error) if the overwrite fails, and deleted in a
  * finally once the overwrite has committed.
  */
private[operators] object PartitionRewrite {

  /** The distinct `partCol` values of `parts`, collected to the driver as
    * METADATA (days-scale per batch). Each is kept BOTH raw (for
    * [[inTouched]]) and in Spark's cast-to-string form — the SAME cast the
    * partition writer uses for dir names, so timestamp values don't render
    * as Timestamp.toString ("...00:00:00.0") and miss the on-disk dir in
    * the emptied-partition cleanup. */
  def touched(parts: DataFrame, partCol: String): Array[(Any, String)] =
    parts.select(col(partCol), col(partCol).cast("string"))
      .distinct()
      .collect().map(r => (r.get(0), if (r.isNullAt(1)) null else r.getString(1)))

  /** `partCol IN touched`, null-aware: a NULL partition value (the default
    * partition) is kept, never silently lost. */
  def inTouched(touched: Array[(Any, String)], partCol: String): Column = {
    val vals = touched.map(_._1)
    val nonNull = vals.filter(_ != null)
    (if (nonNull.nonEmpty) col(partCol).isin(nonNull.toIndexedSeq: _*) else lit(false)) ||
      (if (vals.contains(null)) col(partCol).isNull else lit(false))
  }

  /** Overwrite `dest`'s touched partitions with `resolved`.
    * @param touchedStrings the touched partition values in Spark's
    *   cast-to-string form (the same form the partition writer uses for
    *   dir names); emptied partitions are computed against this set
    * @return number of rows in the staged (committed) output slice */
  def overwriteTouched(spark: SparkSession, resolved: DataFrame,
      touchedStrings: Array[String], partCol: String, dest: String): Long = {
    val staging = dest.stripSuffix("/") + ".__graft_merge_staging_" +
      java.util.UUID.randomUUID().toString.take(8)
    val stagingPath = new org.apache.hadoop.fs.Path(staging)
    val fs = stagingPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    resolved.write.mode("overwrite").option("compression", "snappy").parquet(staging)
    val staged = spark.read.parquet(staging)
    val stagedCount = staged.count()
    val outParts = staged.select(col(partCol).cast("string")).distinct()
      .collect().map(r => if (r.isNullAt(0)) null else r.getString(0)).toSet
    try {
      staged.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .option("compression", "snappy")
        .partitionBy(partCol)
        .parquet(dest)
    } catch {
      case e: Throwable =>
        throw new RuntimeException(
          s"rewrite of $dest failed; resolved batch preserved at $staging", e)
    }
    try {
      touchedStrings.filterNot(outParts.contains).foreach { s =>
        val dir = org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
          .getPartitionPathString(partCol, s)
        val p = new org.apache.hadoop.fs.Path(s"$dest/$dir")
        p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
      }
    } finally fs.delete(stagingPath, true)
    stagedCount
  }
}
