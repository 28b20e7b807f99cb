package graft.pipeline

import graft.{Pins, SparkSpec}

/** The composed curation runner: manifest partitions the input, the run
  * is deterministic, and the pipeline is idempotent — its own output
  * passes every stage untouched (survivors all clear the gate, own
  * unique fingerprints, and are pairwise non-near-dup by the survivor
  * rule). */
class CorpusCurateSpec extends SparkSpec {

  private def docs = spark.read
    .parquet("/root/testdata/sf0.001/documents.parquet")

  test("manifest partitions the input and the run is deterministic") { Pins.scope { pins =>
    val (curated1, m1) = CorpusCurate.run(pins, docs)
    val (_, m2) = CorpusCurate.run(pins, docs)
    info(s"manifest: $m1")
    assert(m1 == m2, "curation manifest changed between identical runs")
    assert(m1.inputDocs == 500)
    assert(m1.keptDocs > 0 && m1.keptTokens > 0 && m1.shards > 0)
    // every stage fired on the seeded corpus (quality casualties, exact
    // dups, and near dups all exist at sf0.001 by construction)
    assert(m1.qualityDropped > 0, "expected quality casualties in the corpus")
    assert(m1.exactDupDropped + m1.nearDupDropped > 0, "expected dups in the corpus")
    // curated frame agrees with the manifest
    assert(curated1.count() == m1.keptDocs)
    assert(curated1.columns.toSet.contains("shard_id"))
  } }

  test("idempotence: curating the curated corpus drops nothing") { Pins.scope { pins =>
    val (curated, m1) = CorpusCurate.run(pins, docs)
    // materialize between runs — the zone-staging posture the runner's
    // scaladoc prescribes (also required: the LSH guard's observe metric
    // name may appear once per plan, so chained runs must cut lineage)
    val again = curated.select("doc_id", "source", "text").localCheckpoint()
    val (_, m2) = CorpusCurate.run(pins, again)
    assert(m2.inputDocs == m1.keptDocs)
    assert(m2.qualityDropped == 0, s"gate re-dropped docs: $m2")
    assert(m2.exactDupDropped == 0, s"exact dedup re-dropped docs: $m2")
    assert(m2.nearDupDropped == 0, s"near-dup re-dropped docs: $m2")
    assert(m2.keptDocs == m1.keptDocs && m2.keptTokens == m1.keptTokens)
  } }

  test("containment stage drops quotes the Jaccard stages cannot see; partition + idempotence hold") { Pins.scope { pins =>
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // plant a quote: doc 90000 is the first 40 tokens of the LONGEST doc
    // that survives baseline curation — Jaccard vs the full host is tiny
    // (slips the near-dup stage) but containment of the quote in its
    // host is ~1.0
    val (baseCurated, _) = CorpusCurate.run(pins, docs)
    val hostRow = baseCurated
      .select(col("doc_id"), col("text"), size(split(col("text"), " ")).as("n"))
      .filter(col("n") >= 90) // sf0.001 docs top out at 99 tokens
      .orderBy(col("n").desc, col("doc_id").asc)
      .limit(1).collect()(0)
    val hostId = hostRow.getLong(0)
    // 30-token quote of a ~99-token host: containment ~1.0 but jaccard
    // ~0.3 — invisible to the near-dup stage by construction
    val quote = hostRow.getString(1).split(" ").take(30).mkString(" ")
    val planted = docs.select("doc_id", "source", "text").unionByName(
      Seq((90000L, "planted", quote)).toDF("doc_id", "source", "text"))
    val (_, off) = CorpusCurate.run(pins, planted)
    val (curated, on) = CorpusCurate.run(pins, planted, containmentTau = Some(0.8))
    assert(off.containmentDropped == 0)
    assert(on.containmentDropped > 0, s"containment stage never fired: $on")
    // the planted quote is gone, its host survives
    val kept = curated.select("doc_id").collect().map(_.getLong(0)).toSet
    assert(!kept.contains(90000L) && kept.contains(hostId),
      "expected the quote dropped and the host kept")
    assert(on.inputDocs == on.qualityDropped + on.exactDupDropped +
      on.nearDupDropped + on.containmentDropped + on.semanticDropped + on.keptDocs)
    // idempotence with the stage ON
    val again = curated.select("doc_id", "source", "text").localCheckpoint()
    val (_, m2) = CorpusCurate.run(pins, again, containmentTau = Some(0.8))
    assert(m2.containmentDropped == 0 && m2.keptDocs == on.keptDocs,
      s"containment re-dropped on its own output: $m2")
  } }

  test("semantic stage composes over aligned embeddings; partition + idempotence hold") { Pins.scope { pins =>
    import org.apache.spark.sql.functions._
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select("vec_id", "embedding")
    val (_, off) = CorpusCurate.run(pins, docs)
    val (curated, on) = CorpusCurate.run(pins, docs, semantic = Some((emb, 0.35)))
    assert(off.semanticDropped == 0)
    assert(on.semanticDropped > 0, s"semantic stage never fired: $on")
    assert(on.keptDocs == off.keptDocs - on.semanticDropped,
      "semantic stage must subtract exactly its drops from the kept set")
    assert(on.inputDocs == on.qualityDropped + on.exactDupDropped +
      on.nearDupDropped + on.containmentDropped + on.semanticDropped + on.keptDocs)
    assert(curated.count() == on.keptDocs)
    // idempotence with the stage ON: the survivor set is pairwise
    // non-dominating within its re-trained cells
    val again = curated.select("doc_id", "source", "text").localCheckpoint()
    val (_, m2) = CorpusCurate.run(pins, again, semantic = Some((emb, 0.35)))
    assert(m2.semanticDropped == 0 && m2.keptDocs == on.keptDocs,
      s"semantic re-dropped on its own output: $m2")
  } }

  test("shard budgets: every shard closes within one doc of the token budget") { Pins.scope { pins =>
    import org.apache.spark.sql.functions._
    val budget = 2048L
    val (curated, _) = CorpusCurate.run(pins, docs, shardTokens = budget)
    // per (source, shard): total tokens can exceed the budget only via its
    // LAST doc (the budget-crossing doc stays in the shard it closes — the
    // q66 rule); so tokens-minus-max-doc must be strictly under budget
    val bad = curated.groupBy("source", "shard_id")
      .agg(sum("n_tokens").as("toks"), max("n_tokens").as("biggest"))
      .filter(col("toks") - col("biggest") >= budget)
      .count()
    assert(bad == 0, s"$bad shards exceed the budget beyond their closing doc")
  } }
}
