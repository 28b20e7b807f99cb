package graft

/** Unpartitioned-window audit as a build gate (r15, VERDICT r14 #5): the
  * full catalog's physical plans may contain an unpartitioned WindowExec
  * ONLY over a row-bounded frame (TakeOrderedAndProject / limit below
  * it), and the inventory of such sites is pinned — so the `WindowExec:
  * No Partition Defined` warnings in a Verify run are provably the
  * declared bounded sites, and a new unbounded global window (the
  * canonical 100 TB killer) fails the build instead of hiding in the
  * warning noise. The sites come from the catalog snapshot (one
  * cache-cold `ExplainAudit.audit` pass per test JVM).
  *
  * Source-level inventory (SCALE.md "Unpartitioned windows"): q184's two
  * 10-row rank windows (plan-visible below TakeOrderedAndProject) and
  * q242b's cut-quantile window over the ≤4096-row pinned sample
  * (consumed EAGERLY inside the query fn, so it never reaches the final
  * frame's plan — its bound is pinned separately by Q242bCutSpec's
  * TakeOrderedAndProject/fixed-N plan assertions). */
class WindowAuditSpec extends SparkSpec {

  test("every unpartitioned window in the catalog sits over a bounded frame") {
    val failures = SparkSpec.catalog.failures
    val sites = SparkSpec.catalog.sites
    // a query whose plan cannot be built has unknown sites: it fails the
    // gate rather than passing it silently
    assert(failures.isEmpty, s"queries failed to plan: $failures")
    val unbounded = sites.filterNot(_.bounded)
    assert(unbounded.isEmpty,
      s"unpartitioned windows over UNBOUNDED frames: $unbounded")
    // pinned inventory: a new site must be reviewed (bounded or not) and
    // added here with its boundedness argument
    assert(sites.map(_.query).sorted ==
      Seq("q184_retrieval_eval", "q184_retrieval_eval"),
      s"unpartitioned-window inventory drifted: $sites")
  }
}
