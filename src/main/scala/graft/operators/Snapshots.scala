package graft.operators

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Multi-version table snapshots without a transactional table format —
  * the time-travel/rollback half of the lakehouse story next to
  * [[Upsert]] (latest-wins merge) and [[Scd2]] (row-level history).
  * Where SCD2 versions ROWS inside one table, this versions the TABLE:
  * each commit is an immutable full snapshot directory, and a one-line
  * pointer file names the current version.
  *
  * Layout under `root/`:
  *  - `v=N/` — immutable snapshot N (snappy parquet), never rewritten
  *    after commit;
  *  - `_LATEST` — the committed-version pointer. The pointer move is an
  *    atomic rename, and it happens only AFTER the snapshot's parquet
  *    write has fully committed — so readers (who resolve the pointer
  *    first) can never observe a half-written snapshot, and a crash
  *    mid-commit leaves at worst an orphaned `v=N` dir that the next
  *    commit of that slot overwrites.
  *
  * Rollback is a POINTER MOVE, not a delete: newer snapshots stay on
  * disk (re-commit re-uses their slots), so a mistaken rollback is
  * itself reversible until [[vacuum]] reclaims the space. This
  * write-once + pointer design is the minimal core of what Delta/Iceberg
  * do with manifest logs; it deliberately keeps the single-writer
  * constraint documented on [[Upsert]].
  *
  * At 100 TB, full-copy snapshots are the wrong default for DAILY
  * commits (that is [[Upsert]]'s incremental territory) but exactly
  * right for the cases this operator targets: pre-migration pins,
  * reproducible training-corpus releases (the q109 split manifest
  * pattern: a release = a version number), and audit freezes — where
  * each version must remain byte-stable regardless of later rewrites.
  */
object Snapshots {

  private val Pointer = "_LATEST"

  private def fs(spark: SparkSession, root: String) =
    new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def versionDir(root: String, v: Long) = s"$root/v=$v"

  /** (pointer, high-water committed version) — both live in ONE pointer
    * file ("cur max", single atomic rename) so no crash can separate
    * them. The high-water mark is what distinguishes a rolled-back-but-
    * committed version (safe to roll forward to) from an ORPHANED dir a
    * crashed commit left behind (never referenced, never readable). */
  private def state(spark: SparkSession, root: String): Option[(Long, Long)] = {
    val p = new Path(root, Pointer)
    val f = fs(spark, root)
    if (!f.exists(p)) None
    else {
      val in = new java.io.BufferedReader(
        new java.io.InputStreamReader(f.open(p), "UTF-8"))
      try {
        val parts = in.readLine().trim.split("\\s+")
        val cur = parts(0).toLong
        Some((cur, if (parts.length > 1) parts(1).toLong else cur))
      } finally in.close()
    }
  }

  /** Committed version pointer, if any commit has completed. */
  def latestVersion(spark: SparkSession, root: String): Option[Long] =
    state(spark, root).map(_._1)

  /** Commit `df` as the next version; returns the new version number (1
    * for the first commit). Pointer is moved only after the data write
    * commits. A commit after a rollback claims the slot AFTER the
    * pointer, abandoning the rolled-back future (which [[vacuum]] can
    * then reclaim — until it runs, those dirs are inert). Single writer
    * per root (see [[Upsert]]'s concurrency note). */
  def commit(df: DataFrame, root: String): Long = {
    val spark = df.sparkSession
    val next = latestVersion(spark, root).getOrElse(0L) + 1
    // overwrite: a crashed earlier attempt at this slot is unreferenced
    // (pointer never moved), so clobbering it is the recovery path
    df.write.mode("overwrite").option("compression", "snappy")
      .parquet(versionDir(root, next))
    writePointer(spark, root, next, next)
    next
  }

  /** Re-point the table at committed version `v` — backward OR forward
    * within the committed range (a mistaken rollback is undone by
    * rolling forward again; nothing is deleted until [[vacuum]]). */
  def rollback(spark: SparkSession, root: String, v: Long): Unit = {
    val (_, max) = state(spark, root).getOrElse(
      throw new IllegalStateException(s"no committed snapshot under $root"))
    require(v >= 1 && v <= max, s"version $v outside committed range [1,$max]")
    require(fs(spark, root).exists(new Path(versionDir(root, v))),
      s"snapshot dir for v=$v missing (vacuumed?)")
    writePointer(spark, root, v, max)
  }

  /** Delete snapshot dirs NEWER than the committed pointer (the future a
    * rollback abandoned) and lower the high-water mark to the pointer.
    * Versions at or below the pointer are never touched — history needed
    * for time travel stays. */
  def vacuum(spark: SparkSession, root: String): Unit = {
    val (cur, _) = state(spark, root).getOrElse(return)
    val f = fs(spark, root)
    val rootPath = new Path(root)
    if (!f.exists(rootPath)) return
    f.listStatus(rootPath).foreach { st =>
      val name = st.getPath.getName
      if (name.startsWith("v=") &&
          scala.util.Try(name.stripPrefix("v=").toLong).toOption.exists(_ > cur))
        f.delete(st.getPath, true)
    }
    writePointer(spark, root, cur, cur)
  }

  /** Read snapshot `v` (time travel). Fails loudly on an uncommitted or
    * vacuumed version rather than listing unreferenced dirs. */
  def read(spark: SparkSession, root: String, v: Long): DataFrame = {
    val (_, max) = state(spark, root).getOrElse(
      throw new IllegalStateException(s"no committed snapshot under $root"))
    require(v >= 1 && v <= max, s"version $v outside committed range [1,$max]")
    require(fs(spark, root).exists(new Path(versionDir(root, v))),
      s"snapshot dir for v=$v missing (vacuumed?)")
    spark.read.parquet(versionDir(root, v))
  }

  /** Read the currently committed version. */
  def readLatest(spark: SparkSession, root: String): DataFrame = {
    val cur = latestVersion(spark, root).getOrElse(
      throw new IllegalStateException(s"no committed snapshot under $root"))
    spark.read.parquet(versionDir(root, cur))
  }

  /** Row-level diff old → new by key: one row per key present in either
    * side, `change_type` ∈ added | removed | changed | unchanged.
    * Attribute comparison is null-safe equality over the shared non-key
    * columns (exact, not hashed). One full outer hash join keyed on the
    * key columns — the natural 100 TB shape; for partitioned tables,
    * filter both sides to the partitions of interest first (the q106
    * incremental-verify pattern). */
  def diff(oldDf: DataFrame, newDf: DataFrame, keyCols: Seq[String]): DataFrame = {
    val attrs = oldDf.columns.filterNot(keyCols.contains)
      .filter(newDf.columns.contains).toSeq
    // side-presence via marker columns, not key nullness: a present row
    // whose KEY is NULL must still classify correctly (latestWins groups
    // NULL keys, so snapshots can legitimately carry them)
    val o = oldDf.withColumn("__o", lit(true)).as("o")
    val n = newDf.withColumn("__n", lit(true)).as("n")
    val joinCond = keyCols.map(k => col(s"o.$k") <=> col(s"n.$k")).reduce(_ && _)
    val sameAttrs =
      if (attrs.isEmpty) lit(true)
      else attrs.map(a => col(s"o.$a") <=> col(s"n.$a")).reduce(_ && _)
    val keyOut = keyCols.map(k =>
      when(col("o.__o").isNotNull, col(s"o.$k")).otherwise(col(s"n.$k")).as(k))
    o.join(n, joinCond, "full_outer")
      .select(keyOut :+
        when(col("o.__o").isNull, "added")
          .when(col("n.__n").isNull, "removed")
          .when(sameAttrs, "unchanged")
          .otherwise("changed").as("change_type"): _*)
  }

  private def writePointer(spark: SparkSession, root: String, v: Long,
      max: Long): Unit = {
    val f = fs(spark, root)
    val tmp = new Path(root, s".$Pointer.tmp")
    val out = f.create(tmp, true)
    try out.write(s"$v $max".getBytes("UTF-8")) finally out.close()
    val dst = new Path(root, Pointer)
    if (f.exists(dst)) f.delete(dst, false)
    if (!f.rename(tmp, dst))
      throw new java.io.IOException(s"pointer rename failed for $root v=$v")
  }
}
