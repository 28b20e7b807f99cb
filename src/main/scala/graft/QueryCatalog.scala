package graft

import graft.analytics.{GoldQueries, LakeQueries, QueryDef, Relational}
import graft.dedup.DedupQueries
import graft.ml.MlQueries
import graft.similarity.SimilarityQueries
import graft.text.{TextQueries, UnigramLm}

/** Aggregated query catalog — one QueryDef per operator claimed in
  * SURVEY.md §2 plus the training-data-pipeline extensions. SparkEntry
  * derives the driver's `queries`/`oracleSql` maps from this. */
object QueryCatalog {
  /** Each query family with its source file under src/main/scala/graft,
    * in catalog order (CATALOG.md has one section per family). */
  val families: Seq[(String, Seq[QueryDef])] = Seq(
    "analytics/Relational.scala" -> Relational.defs,
    "text/TextQueries.scala" -> TextQueries.defs,
    "text/UnigramLm.scala" -> UnigramLm.defs,
    "dedup/DedupQueries.scala" -> DedupQueries.defs,
    "similarity/SimilarityQueries.scala" -> SimilarityQueries.defs,
    "analytics/GoldQueries.scala" -> GoldQueries.defs,
    "ml/MlQueries.scala" -> MlQueries.defs,
    "analytics/LakeQueries.scala" -> LakeQueries.defs)

  val all: Seq[QueryDef] = families.flatMap(_._2)

  require(all.map(_.name).distinct.size == all.size, "duplicate query names")
}
