package graft

/** The per-query plan record: the `PLAN` hash is a function of the plan's
  * shape only (not of the build's expression ids or the layout's file
  * names), the `ORACLE` hash of the oracle's tokens only (not of its
  * whitespace), and the scan counts are the query's own even in a session
  * whose CacheManager already holds the query's persisted frames. */
class ExplainAuditSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  private def build(q: String) = SparkEntry.queries(q)(spark, sf)

  test("a query built twice hashes equal although its expression ids differ") {
    val (a, b) = (build("q12_revenue_by_nation"), build("q12_revenue_by_nation"))
    assert(a.queryExecution.optimizedPlan.toString !=
      b.queryExecution.optimizedPlan.toString)
    assert(ExplainAudit.normalizedPlan(a) == ExplainAudit.normalizedPlan(b))
    assert(ExplainAudit.planHash(a) == ExplainAudit.planHash(b))
  }

  test("two different plans hash differently") {
    assert(ExplainAudit.planHash(build("q12_revenue_by_nation")) !=
      ExplainAudit.planHash(build("q13_top_unshipped")))
  }

  test("an oracle hash ignores re-indentation and moves with a changed literal") {
    val sql = SparkEntry.oracleSql("q57_dup_clusters")
    assert(sql.contains(">= 0.6"))
    assert(ExplainAudit.oracleHash(sql) ==
      ExplainAudit.oracleHash(sql.replace("\n", "\n    ") + "\n"))
    assert(ExplainAudit.oracleHash(sql) !=
      ExplainAudit.oracleHash(sql.replace(">= 0.6", ">= 0.5")))
  }

  test("q115's hash is stable across its layout's part-file UUIDs") {
    val before = build("q115_skipping_scan")
    // force a rewrite: the layout is rebuilt under fresh part-file names
    val root = IndexCache.zlayoutRoot(sf)
    def files = new java.io.File(root).list().filter(_.startsWith("part-")).toSet
    val oldFiles = files
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(root))
    val after = build("q115_skipping_scan")
    assert(files.nonEmpty && (files & oldFiles).isEmpty,
      "the layout was not rewritten under new file names")
    assert(ExplainAudit.planHash(before) == ExplainAudit.planHash(after))
  }

  test("a warm session still records the cold scan count (q124 embeddings x6)") {
    val q = "q124_mmr_rerank"
    // q68 persists the embeddings frame q124 derives too: once it is
    // built, a plain q124 build reads that cache in place of its scans ...
    build("q68_cosine_pairs_lsh")
    assert(!ExplainAudit.tableScanCounts(build(q)).contains("embeddings.parquet"))
    // ... the audit pass clears the cache first and sees all six
    val report = ExplainAudit.audit(spark, sf, Seq(q))((_, _) => ())
    assert(report.failures.isEmpty, report.failures)
    assert(report.records.map(_._1.scanCounts.get("embeddings.parquet")) ==
      Seq(Some(6)))
  }
}
