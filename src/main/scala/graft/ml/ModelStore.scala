package graft.ml

import org.apache.spark.sql.SparkSession

/** Persisted model registry — the [[graft.IndexCache]] train-once/serve-many
  * posture applied to MODELS instead of indexes. A trained weight vector is
  * tiny (d+1 doubles) but retraining it costs `steps` full corpus scans, so
  * the production serving path loads persisted weights and never touches the
  * training data — exactly the distinction the persisted IVF index draws
  * between q42b (train-inline demo) and q105 (probe the stored index).
  *
  * Storage is one parquet table of (idx, feature, weight) rows: `idx` pins
  * the weight order (parquet row order is not a contract), `feature` makes
  * the artifact self-describing, and DOUBLE round-trips bit-exactly through
  * parquet — so a stored-model score is bit-identical to an inline-trained
  * score (MlQueriesSpec pins this), which is what lets q120 share q117's
  * DuckDB oracle verbatim. Freshness rides the same content stamp as the
  * postings index: file metadata only, no Spark job.
  */
object ModelStore {

  /** Persist `w` under `root/weights` (overwrite = model refresh). */
  def save(spark: SparkSession, root: String, features: Seq[String],
      w: Array[Double]): Unit = {
    require(features.length == w.length,
      s"feature/weight arity mismatch: ${features.length} vs ${w.length}")
    import spark.implicits._
    features.indices.map(i => (i, features(i), w(i)))
      .toDF("idx", "feature", "weight")
      .coalesce(1).write.mode("overwrite").parquet(s"$root/weights")
  }

  /** Load (feature names, weights) in training order. */
  def load(spark: SparkSession, root: String): (Seq[String], Array[Double]) = {
    val rows = spark.read.parquet(s"$root/weights").orderBy("idx").collect()
    require(rows.nonEmpty, s"no model at $root")
    (rows.map(_.getString(1)).toSeq, rows.map(_.getDouble(2)))
  }

  /** Ensure the q116 lang-router model exists and is current for `sfDir`'s
    * documents; returns the model root. Synchronized like IndexCache: the
    * bench/verify loop is sequential but specs may share a session. */
  def ensureLogReg(spark: SparkSession, sfDir: String): String = synchronized {
    val root = graft.IndexCache.modelRoot(sfDir)
    // the version token retires the weights when the TRAINING arithmetic
    // changes (detmath1 = the DetMath deterministic sigmoid)
    graft.IndexCache.buildOnce(spark, root, s"$sfDir/documents.parquet",
        "detmath1") {
      save(spark, root, MlQueries.FeatureNames,
        MlQueries.trainOn(spark.read.parquet(s"$sfDir/documents.parquet")))
    }
    root
  }
}
