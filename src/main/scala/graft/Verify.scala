package graft
import scala.util.control.NonFatal
import java.nio.file.{Files, Paths}
import graft.BenchAdj.selected
import graft.pipeline.JobStatus.jsonString
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = LocalSession(LocalSession.cpus())
    new java.io.File(outDir).mkdirs()
    // the driver never sets SPARK_GRAFT_ONLY: the gate runs the full catalog
    SparkEntry.queries.filter(kv => selected(kv._1)).foreach { case (name, fn) =>
      try {
        // cache-cold per query (the r14 Bench contract): internal
        // persist() frames must not leak across queries via the
        // CacheManager's canonicalized-plan match
        spark.catalog.clearCache()
        fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
      } catch { case NonFatal(e) =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // every string escaped (control chars too): a tab or CR in
    // builder-authored SQL must not make the driver's json.load fail
    val json = SparkEntry.oracleSql.filter(kv => selected(kv._1))
      .map { case (k, v) => s"${jsonString(k)}: ${jsonString(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
