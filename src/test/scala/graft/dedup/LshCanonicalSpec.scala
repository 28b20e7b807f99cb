package graft.dedup

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** q107 (LSH → verify → CC → canonical election) parity, made precise.
  *
  * The TRUE exact baseline is the unrestricted all-pairs >= 0.6 edge set
  * (computed here by brute force over the 500-doc corpus — q38/q81 gate
  * the within-SOURCE subset only, so LSH legitimately sees cross-source
  * edges they cannot):
  *
  *  - soundness: LSH-verified edges ⊆ exact all-pairs edges (the verify
  *    stage keeps only true pairs — approximation can MISS, never
  *    fabricate), hence CC(LSH) REFINES CC(exact);
  *  - shared definition: any q107 cluster with the same member set as an
  *    exact-edge cluster (or a q81 within-source cluster) elects the
  *    IDENTICAL canonical doc;
  *  - recall is REPORTED and floored — the knob is band geometry, and a
  *    silent drop means a code change, not sampling variance (all inputs
  *    deterministic).
  */
class LshCanonicalSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  private def docs = graft.analytics.Ops.t(spark, sf, "documents")

  private def lshEdges = SetSimIndex.verify(
    DedupQueries.lshCandidatePairs(DedupQueries.signaturesOf(docs)),
    DedupQueries.hashedGramsOf(docs), 0.6)

  private def exactEdges = {
    val ids = docs.select("doc_id")
    val allPairs = ids.select(col("doc_id").as("doc_a"))
      .crossJoin(ids.select(col("doc_id").as("doc_b")))
      .filter(col("doc_a") < col("doc_b"))
    SetSimIndex.verify(allPairs, DedupQueries.hashedGramsOf(docs), 0.6)
  }

  private def edgeSet(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
    df.select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet

  private def clustersOf(edges: org.apache.spark.sql.DataFrame): Map[Long, Set[Long]] =
    DedupClusters.connectedComponents(edges)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
      .groupBy(_._2).map { case (c, rows) => c -> rows.map(_._1).toSet }

  test("soundness + refinement: LSH edges ⊆ exact edges, CC(LSH) refines CC(exact)") {
    val lsh = edgeSet(lshEdges)
    val exact = edgeSet(exactEdges)
    assert(lsh.nonEmpty, "LSH path found no edges on the seeded corpus")
    assert(lsh.subsetOf(exact),
      s"LSH fabricated edges: ${lsh -- exact}")
    val recall = lsh.size.toDouble / exact.size
    info(f"LSH edge recall on all-pairs >= 0.6: $recall%.3f (${lsh.size}/${exact.size})")
    assert(recall >= 0.5, f"LSH recall dropped to $recall%.3f")
    val exactClusters = clustersOf(exactEdges).values.toSeq
    clustersOf(lshEdges).values.foreach { m =>
      assert(exactClusters.count(e => m.subsetOf(e)) == 1,
        s"LSH cluster $m is not contained in exactly one exact cluster")
    }
  }

  test("q107b (md5-portable, hash-gated) is sound and refines the exact clustering") {
    // the oracle-portable twin must satisfy the same soundness contract
    // as the production xxhash64 path: verified edges are a subset of the
    // exact all-pairs edge set, clusters refine the exact clusters, and
    // recall stays floored
    val got = graft.SparkEntry.queries("q107b_lsh_canonical_md5")(spark, sf)
      .collect()
    assert(got.nonEmpty, "q107b found no clusters on the seeded corpus")
    val exactClusters = clustersOf(exactEdges).values.toSeq
    // every q107b cluster's (canonical, members) must be realizable from
    // SOME exact cluster: members <= containing exact cluster size
    got.foreach { r =>
      val canonical = r.getAs[Long]("canonical_doc")
      val members = r.getAs[Long]("members")
      val container = exactClusters.filter(_.contains(canonical))
      assert(container.size == 1,
        s"canonical $canonical not in exactly one exact cluster")
      assert(members <= container.head.size,
        s"q107b cluster at $canonical has $members members > exact ${container.head.size}")
    }
    // recall on clustered docs vs the exact clustering
    val exactDocs = exactClusters.map(_.size).sum
    val gotDocs = got.map(_.getAs[Long]("members")).sum
    val recall = gotDocs.toDouble / exactDocs
    info(f"q107b clustered-doc recall: $recall%.3f ($gotDocs/$exactDocs)")
    assert(recall >= 0.5, f"q107b recall dropped to $recall%.3f")
  }

  test("same-member clusters elect the same canonical (shared election definition)") {
    def electionsFrom(clusters: Map[Long, Set[Long]],
        canon: Map[Long, Long]): Map[Set[Long], Long] =
      clusters.map { case (cid, members) => members -> canon(cid) }

    val e107 = electionsFrom(clustersOf(lshEdges),
      graft.SparkEntry.queries("q107_lsh_canonical")(spark, sf)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap)
    // exact-edge elections through the SAME shared stage, spec-side
    val eExact = electionsFrom(clustersOf(exactEdges),
      DedupQueries.canonicalElection(
          DedupClusters.connectedComponents(exactEdges), docs)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap)
    // q81's within-source elections for the clusters both paths see
    val e81 = graft.SparkEntry.queries("q81_cluster_canonical")(spark, sf)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val exactWithin = {
      val pairs = graft.SparkEntry.queries("q38_ngram_jaccard")(spark, sf)
        .filter(col("jaccard") >= 0.6).select("doc_a", "doc_b")
      electionsFrom(clustersOf(pairs), e81)
    }

    var checked = 0
    e107.foreach { case (members, canonical) =>
      eExact.get(members).foreach { c =>
        checked += 1
        assert(c == canonical,
          s"cluster $members elected $canonical via LSH but $c via exact edges")
      }
      exactWithin.get(members).foreach { c =>
        assert(c == canonical,
          s"cluster $members elected $canonical via LSH but $c via q81")
      }
    }
    info(s"member-identical clusters checked against exact elections: $checked")
    assert(checked > 0, "no member-identical cluster to compare — spec has no teeth")
  }
}
