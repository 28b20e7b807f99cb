package graft.io

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Persistent catalog stand-in for the reference's Glue Data Catalog.
  *
  * The reference never reads by path: every job resolves tables through the
  * catalog (`etl_transactions_bronze.py:123-125`,
  * `etl_transactions_silver.py:137-139`), which Glue Crawlers populate from
  * the S3 zone layouts (`README.md:63,80`). The honest Spark equivalent is a
  * Hive-metastore-backed catalog (Derby, file-local here; any JDBC metastore
  * or real Glue catalog on a cluster) where
  *  - `registerExternal` is the crawler: point a table at an existing zone
  *    path and recover its Hive-style partitions into the metastore;
  *  - `saveTable` is the managed-write path with partition registration;
  *  - `spark.table(name)` replaces every path read, and the metadata
  *    survives JVM restarts (see CatalogPersistenceSpec's two-JVM check).
  *
  * Scale notes: catalog-registered partitions give the planner partition
  * pruning from metastore metadata without listing the whole table root —
  * at 100 TB the file listing, not the IO, is what kills per-query startup.
  */
object LakeCatalog {

  /** True when `spark` is backed by a persistent (Hive) catalog. */
  def isHive(spark: SparkSession): Boolean =
    spark.sparkContext.getConf
      .get("spark.sql.catalogImplementation", "in-memory") == "hive"

  /** Local Hive-metastore session rooted at `root` (warehouse + Derby db).
    * Two sequential JVMs pointed at the same `root` see the same tables. */
  def session(root: String, cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")): SparkSession =
    SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graft-lake-catalog")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", s"$root/warehouse")
      .config("javax.jdo.option.ConnectionURL",
        s"jdbc:derby:;databaseName=$root/metastore_db;create=true")
      .enableHiveSupport()
      .getOrCreate()

  /** Crawler stand-in: register (or refresh) an EXTERNAL parquet table over
    * an existing zone path and recover its `k=v` partition directories into
    * the metastore. Idempotent — call after every zone write. If the name
    * is already cataloged at a DIFFERENT location (zones root moved, two
    * lakes sharing a metastore) the stale entry is dropped and re-created
    * rather than silently serving the old lake's data. A new entry takes
    * `schema` (with `partitionCols` at its end) when given — no footer
    * inference job — and the inferred footer schema otherwise; an existing
    * entry keeps its schema, including one `refreshSchema` evolved, so
    * in-place schema evolution needs `refreshSchema` or an explicit drop +
    * re-register, like re-running a Glue crawler. */
  def registerExternal(spark: SparkSession, name: String, path: String,
      schema: Option[StructType] = None, partitionCols: Seq[String] = Nil): Unit = {
    // Qualify through the Hadoop FS: a relative local path in LOCATION would
    // otherwise resolve against the WAREHOUSE dir, not the caller's cwd
    // (and hdfs://, s3a:// roots pass through untouched).
    val p = new org.apache.hadoop.fs.Path(path)
    val loc = p.getFileSystem(spark.sparkContext.hadoopConfiguration).makeQualified(p)
    if (spark.catalog.tableExists(name)) {
      val meta = spark.sessionState.catalog
        .getTableMetadata(org.apache.spark.sql.catalyst.TableIdentifier(name))
      val current = meta.location.toString.stripSuffix("/")
      if (current != loc.toString.stripSuffix("/")) {
        // Only EXTERNAL entries may be dropped here: dropping a MANAGED
        // table (saveTable output) deletes its data files, so a name
        // collision would silently destroy data. Fail loudly instead.
        require(meta.tableType == org.apache.spark.sql.catalyst.catalog.CatalogTableType.EXTERNAL,
          s"refusing to re-register '$name' over $loc: the existing table is " +
            s"${meta.tableType.name} at $current and dropping it would delete " +
            "its data files. Drop it explicitly first.")
        spark.sql(s"DROP TABLE $name")
      }
    }
    createExternal(spark, name, schema, partitionCols, loc.toString)
    // New files may have landed since the table was cataloged: drop cached
    // listings, then crawl for partition dirs added outside the catalog.
    spark.catalog.refreshTable(name)
    // AnalysisException = table isn't partitioned (nothing to crawl); any
    // other failure is a real metastore problem and must surface.
    try spark.catalog.recoverPartitions(name)
    catch { case _: org.apache.spark.sql.AnalysisException => () }
  }

  /** Schema-evolution refresh — the "re-run the crawler" half that
    * registerExternal's scaladoc points at. When newer writers have landed
    * files with ADDED columns, the cataloged schema (inferred once at
    * registration, possibly from an old footer) goes stale and the new
    * columns stay invisible. This re-infers the UNION schema across all
    * footers (`mergeSchema`, the Spark-native evolution mechanism: added
    * columns surface, pre-evolution rows read as NULL — column REMOVAL or
    * retype is not evolution and still fails loudly at read), then
    * re-creates the external entry with the merged schema pinned
    * explicitly, preserving partition columns.
    *
    * Scale note: the merge pass reads footers only, not data — but ALL of
    * them; run it on evolution events (a new writer version), not per
    * query. Returns the merged schema so callers can diff/log it. */
  def refreshSchema(spark: SparkSession, name: String): StructType = {
    val meta = spark.sessionState.catalog
      .getTableMetadata(org.apache.spark.sql.catalyst.TableIdentifier(name))
    require(meta.tableType == org.apache.spark.sql.catalyst.catalog.CatalogTableType.EXTERNAL,
      s"refreshSchema is for EXTERNAL tables; '$name' is ${meta.tableType.name} " +
        "(managed tables evolve through their writer, not a crawl)")
    val loc = meta.location.toString
    val partCols = meta.partitionColumnNames
    val merged = spark.read.option("mergeSchema", "true").parquet(loc).schema
    def create(schema: StructType): Unit =
      createExternal(spark, name, Some(schema), partCols, loc)
    // Everything fallible (footer merge, DDL rendering) happens BEFORE the
    // drop; if the replacement CREATE itself still fails, re-register the
    // ORIGINAL schema so a failed refresh never deletes the catalog entry.
    spark.sql(s"DROP TABLE $name")
    try create(merged)
    catch {
      case e: Throwable =>
        try create(meta.schema) catch { case _: Throwable => () }
        throw e
    }
    spark.catalog.refreshTable(name)
    try spark.catalog.recoverPartitions(name)
    catch { case _: org.apache.spark.sql.AnalysisException => () }
    merged
  }

  /** `CREATE TABLE IF NOT EXISTS` of an EXTERNAL parquet entry at `loc`;
    * without `schema` Spark infers it from the footers. */
  private def createExternal(spark: SparkSession, name: String,
      schema: Option[StructType], partCols: Seq[String], loc: String): Unit = {
    val columns = schema.fold("")(s => s" (${s.toDDL})")
    val partitioned =
      if (partCols.nonEmpty) s" PARTITIONED BY (${partCols.mkString(", ")})" else ""
    spark.sql(s"CREATE TABLE IF NOT EXISTS $name$columns USING PARQUET$partitioned LOCATION '$loc'")
  }

  /** Compute table- and column-level statistics for the CBO — the missing
    * half of a catalog: with rowCount/sizeInBytes and per-column NDV/min/
    * max in the metastore, Catalyst's cost-based optimizer can reorder
    * multi-joins and pick broadcast sides from DATA, not just file sizes.
    * Run after registration/refresh, like a crawler's stats pass. */
  def analyze(spark: SparkSession, name: String, columns: Seq[String] = Nil): Unit = {
    spark.sql(s"ANALYZE TABLE $name COMPUTE STATISTICS")
    if (columns.nonEmpty)
      spark.sql(s"ANALYZE TABLE $name COMPUTE STATISTICS FOR COLUMNS ${columns.mkString(", ")}")
  }

  /** Managed catalog write: partitioned snappy parquet via saveAsTable, so
    * partition metadata is registered as part of the write (no crawl).
    *
    * `bucketCols`/`numBuckets` (+ optional `sortCols`) materialize the
    * bucketed layout that makes repeated key-joins shuffle-free: two tables
    * bucketed `numBuckets` ways on the join key sort-merge-join with ZERO
    * exchange (BucketedJoinSpec proves it on lineitem⋈orders). At 100 TB
    * this converts every fact⋈fact query from two full-table shuffles into
    * a co-located read — pay the shuffle once at write time, never again.
    * Bucket count is a layout contract: both join sides must use the same
    * `numBuckets` for the exchange to be elided. */
  def saveTable(df: DataFrame, name: String, partitionCols: Seq[String] = Nil,
      mode: String = "overwrite", bucketCols: Seq[String] = Nil,
      numBuckets: Int = 0, sortCols: Seq[String] = Nil): Unit = {
    require(bucketCols.nonEmpty == (numBuckets > 0),
      s"bucketCols and numBuckets must be set together (got cols=$bucketCols, n=$numBuckets)")
    require(sortCols.isEmpty || bucketCols.nonEmpty, "sortCols requires bucketCols")
    var w = df.write.mode(mode).format("parquet").option("compression", "snappy")
    if (partitionCols.nonEmpty) w = w.partitionBy(partitionCols: _*)
    if (bucketCols.nonEmpty) {
      w = w.bucketBy(numBuckets, bucketCols.head, bucketCols.tail: _*)
      if (sortCols.nonEmpty) w = w.sortBy(sortCols.head, sortCols.tail: _*)
    }
    w.saveAsTable(name)
  }
}

/** Two-phase main for the cross-JVM persistence check: `write <root>` saves
  * a partitioned table through the catalog and exits; `read <root>` is a
  * FRESH JVM that must resolve the same table + partitions purely from the
  * on-disk metastore. Driven by CatalogPersistenceSpec. */
object CatalogRoundTrip {
  def main(args: Array[String]): Unit = {
    val Array(mode, root) = args
    val spark = LakeCatalog.session(root)
    spark.sparkContext.setLogLevel("WARN")
    mode match {
      case "write" =>
        import spark.implicits._
        val df = Seq((1L, "a", "2025-01-01"), (2L, "b", "2025-01-01"),
          (3L, "c", "2025-01-02")).toDF("id", "v", "dt")
        LakeCatalog.saveTable(df, "roundtrip_t", Seq("dt"))
        println(s"CATALOG_WRITE_OK ${spark.table("roundtrip_t").count()}")
      case "read" =>
        val n = spark.table("roundtrip_t").count()
        val parts = spark.sql("SHOW PARTITIONS roundtrip_t").count()
        println(s"CATALOG_READ_OK $n $parts")
      // bucketed layout contract: the ZERO-SHUFFLE join must hold for a
      // FRESH JVM that knows the tables only through the metastore — bucket
      // metadata has to survive the round trip or the "pay the shuffle once
      // at write time" story is false across jobs.
      case "write-bucketed" =>
        import spark.implicits._
        val l = (1L to 10000L).map(i => (i, s"l$i")).toDF("id", "lv")
        val r = (1L to 10000L).map(i => (i, s"r$i")).toDF("oid", "rv")
        LakeCatalog.saveTable(l, "bk_left",
          bucketCols = Seq("id"), numBuckets = 8, sortCols = Seq("id"))
        LakeCatalog.saveTable(r, "bk_right",
          bucketCols = Seq("oid"), numBuckets = 8, sortCols = Seq("oid"))
        println("CATALOG_BUCKETED_WRITE_OK")
      case "read-bucketed" =>
        import org.apache.spark.sql.functions.col
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        val j = spark.table("bk_left")
          .join(spark.table("bk_right"), col("id") === col("oid"))
        val shuffles = "Exchange hashpartitioning".r
          .findAllIn(j.queryExecution.executedPlan.toString).size
        println(s"CATALOG_BUCKETED_READ_OK ${j.count()} $shuffles")
    }
    spark.stop()
  }
}
