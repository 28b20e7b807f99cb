package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Small-file compaction for partitioned Parquet zones.
  *
  * The reference's daily append jobs (`etl_transactions_bronze.py:129-133`)
  * accumulate one small file batch per run per partition — the classic
  * lake small-file problem: at 100 TB with thousands of daily runs, scan
  * planning and open-file overhead dominate. This operator rewrites a
  * date-partitioned dataset with files sized toward `targetBytesPerFile`,
  * preserving the Hive partition layout.
  *
  * Mechanics: per-partition byte sizes come from the file index (driver
  * metadata, no data scan); each partition's data is rewritten with
  * ceil(bytes/target) output files via repartitionByRange on the partition
  * column + a deterministic intra-partition spread key.
  */
object Compaction {

  /** Returns (partitionDir → bytes) from filesystem metadata, via the
    * Hadoop FileSystem API — works on hdfs://, s3a://, and local roots
    * alike (java.io.File would NPE on anything non-local). */
  def partitionSizes(spark: SparkSession, root: String): Map[String, Long] = {
    val rootPath = new org.apache.hadoop.fs.Path(root)
    val fs = rootPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.listStatus(rootPath).iterator
      .filter(s => s.isDirectory && s.getPath.getName.contains("="))
      .map { d =>
        d.getPath.getName ->
          fs.listStatus(d.getPath).iterator
            .filter(_.isFile).map(_.getLen).sum
      }
      .toMap
  }

  /** Rewrite `root` (partitioned by `partCol`) into right-sized files.
    * Output goes to `dest` so the swap is atomic at the directory level —
    * never compact in place. */
  def compact(spark: SparkSession, root: String, dest: String,
      partCol: String, targetBytesPerFile: Long = 128L * 1024 * 1024): Unit = {
    val sizes = partitionSizes(spark, root)
    require(sizes.nonEmpty,
      s"no 'col=' partition directories under $root — compact() expects a partitioned dataset")
    val totalFiles = math.max(
      sizes.values.map(b => math.ceil(b.toDouble / targetBytesPerFile).toLong).sum,
      1L)
    val df = spark.read.parquet(root)
    // deterministic spread key: range-partition on (partCol, content hash)
    // gives each date its proportional share of `totalFiles` output files
    val spread = pmod(xxhash64(df.columns.map(col).toIndexedSeq: _*), lit(1000000L))
    // clamp: repartitionByRange takes Int; past ~2B target files the cast
    // would overflow (and that many output files means the target size, not
    // this operator, is what needs fixing)
    val numFiles = math.min(totalFiles, Int.MaxValue.toLong).toInt
    df.withColumn("__spread", spread)
      .repartitionByRange(numFiles, col(partCol), col("__spread"))
      .drop("__spread")
      .write.mode("overwrite")
      .option("compression", "snappy")
      .partitionBy(partCol)
      .parquet(dest)
  }

  /** Clustered (sorted-layout) rewrite: range-partition on `sortCols` so
    * each output FILE owns a disjoint sort-key range, then sort within
    * partitions so each ROW GROUP's min/max stats are tight. A later scan
    * filtering on the sort key prunes whole files (footer min/max) and row
    * groups without reading data — at 100 TB this is the difference between
    * scanning a table and scanning a sliver. Spark-native Z-ordering-lite:
    * for one clustering dimension this IS the optimal layout; for several,
    * put the most-filtered column first. */
  def clusteredWrite(df: DataFrame, dest: String, numFiles: Int,
      sortCols: Seq[String]): Unit = {
    val cs = sortCols.map(col)
    df.repartitionByRange(numFiles, cs: _*)
      .sortWithinPartitions(cs: _*)
      .write.mode("overwrite")
      .option("compression", "snappy")
      .parquet(dest)
  }
}
