package graft.dedup

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** The ExactSubstr hot-window guard (spark.graft.substr.hotWindowCap —
  * the q36 hot-bucket discipline applied to 25-gram window hashes).
  * Contract under test:
  *  - OFF by default: results identical with the conf unset (the
  *    hash-gated rows' exactness premise);
  *  - ON: source fan-out per window hash is bounded at the cap, the
  *    observe() metrics report the capping (no silent caps), and
  *    earliest-occurrence preference keeps full-duplicate detection
  *    intact on the adversarial hot corpus (a 25-gram repeated en
  *    masse) — the construction where the guard actually fires. */
class SubstrGuardSpec extends SparkSpec {
  import DedupQueries.SubstrHotWindowCapKey

  private val sf = "/root/testdata/sf0.001"

  /** Collect substr_guard_* observed metrics fired after `body` runs —
    * QueryExecutionListener delivery is async, so drain the bus. */
  private def withGuardMetrics(body: => Unit): Map[String, (Long, Long)] = {
    val seen = new java.util.concurrent.ConcurrentHashMap[String, (Long, Long)]()
    val l = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(f: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          d: Long): Unit =
        qe.observedMetrics.iterator
          .filter(_._1.startsWith("substr_guard")).foreach { case (n, row) =>
            val c = if (row.isNullAt(0)) 0L else row.getLong(0)
            val k = if (row.isNullAt(1)) 0L else row.getLong(1)
            val prev = seen.getOrDefault(n, (0L, 0L))
            seen.put(n, (prev._1 + c, prev._2 + k))
          }
      override def onFailure(f: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          e: Exception): Unit = ()
    }
    spark.listenerManager.register(l)
    try {
      body
      org.apache.spark.SpecBus.drain(spark.sparkContext)
      import scala.jdk.CollectionConverters._
      seen.asScala.toMap
    } finally spark.listenerManager.unregister(l)
  }

  private def withCap[T](cap: Int)(body: => T): T = {
    spark.conf.set(SubstrHotWindowCapKey, cap.toString)
    try body finally spark.conf.unset(SubstrHotWindowCapKey)
  }

  test("guard OFF by default: conf unset leaves q249 results byte-identical") {
    spark.conf.unset(SubstrHotWindowCapKey) // belt and braces
    val base = DedupQueries.exactSubstrDedup(spark, sf)
      .orderBy("doc_id").collect().toSeq
    // and with an explicit non-positive value (documented identity)
    spark.conf.set(SubstrHotWindowCapKey, "0")
    val zero =
      try DedupQueries.exactSubstrDedup(spark, sf)
        .orderBy("doc_id").collect().toSeq
      finally spark.conf.unset(SubstrHotWindowCapKey)
    assert(base == zero)
  }

  test("cap ON over a normal corpus: results unchanged (cap never binds)") {
    val base = DedupQueries.exactSubstrDedup(spark, sf)
      .orderBy("doc_id").collect().toSeq
    // sf0.001 has no 25-gram with > 64 occurrences (the q36 default cap
    // regime); a generous cap must therefore change nothing
    val guarded = withCap(64) {
      DedupQueries.exactSubstrDedup(spark, sf)
        .orderBy("doc_id").collect().toSeq
    }
    assert(base == guarded,
      "a cap above the corpus's max window fan-out must be a no-op")
  }

  test("adversarial hot corpus: candidates bounded, metrics fire, " +
    "earliest-occurrence duplicates still fully detected") {
    import spark.implicits._
    // 200 docs, all the SAME 60-token text: every 25-gram window hash
    // occurs 200×  — the boilerplate-header regime. Earliest-preference
    // means doc 1's windows survive any cap, so docs 2..200 must still
    // verify as FULL duplicates even at cap = 8.
    val text = (1 to 60).map(i => s"tok${i % 30}").mkString(" ")
    val hot = (1L to 200L).map(i => (i, text)).toDF("doc_id", "text")
      .withColumn("is_delta", lit(false)) // unused; shape parity only
      .drop("is_delta")
    def run() = {
      val toks = DedupQueries.substrTokens(hot).localCheckpoint(true)
      val powers = DedupQueries.substrPowers(spark,
        DedupQueries.substrMaxLen(toks))
      val h25 = DedupQueries.substrWindowHashes(toks, powers)
      val dSide = h25
        .filter(pmod(col("pos") - 1, lit(DedupQueries.BlockLen)) === 0)
        .select(col("doc_id"), col("pos").as("dpos"), col("h"))
      val sSide = DedupQueries.substrSourceGuard(
        h25.select(col("doc_id").as("src_id"),
          col("pos").as("spos"), col("h")), "spec")
      val cand = dSide.join(sSide, Seq("h"))
        .filter(col("src_id") < col("doc_id") ||
          (col("src_id") === col("doc_id") && col("spos") < col("dpos")))
        .select(col("doc_id"), col("src_id"),
          (col("dpos") - col("spos")).as("delta"))
        .distinct()
      val nCand = cand.count()
      val plain = toks
      val cov = DedupQueries.substrCoverage(cand, plain, plain)
        .orderBy("doc_id").collect().toSeq
      (nCand, cov)
    }
    val (nUncapped, covUncapped) = run()
    var nCapped = 0L
    var covCapped: Seq[org.apache.spark.sql.Row] = Nil
    val metrics = withGuardMetrics {
      val r = withCap(8)(run())
      nCapped = r._1
      covCapped = r._2
    }
    // bounded: 200 docs share every hash; cap 8 keeps <= 8 source
    // windows per hash vs 200 uncapped -> candidate mass collapses
    assert(nCapped < nUncapped / 4,
      s"cap must bound the hot join: capped=$nCapped uncapped=$nUncapped")
    // no silent caps: the observe metrics reported the capping
    val fired = metrics.filter(_._2._1 > 0)
    assert(fired.nonEmpty, s"guard metrics must fire when capping: $metrics")
    assert(fired.values.map(_._2).sum > 0, "skipped_windows must be > 0")
    // earliest-preference soundness on this construction: every doc > 1
    // is a full duplicate of doc 1, whose windows survive the cap
    val dupDocs = covCapped.map(r => r.getLong(0) -> r.getLong(1)).toMap
    (2L to 200L).foreach { i =>
      assert(dupDocs.get(i).contains(60L),
        s"doc $i must stay fully covered under the cap")
    }
    assert(covCapped == covUncapped,
      "on the identical-docs corpus the capped coverage equals exact")
  }

  test("cap budget is per (h, h2) PAIR key, not per h alone (ADVICE r13): " +
    "h-colliding windows with distinct h2 keep their own budgets") {
    import spark.implicits._
    // two DISTINCT true windows whose 31-bit h values collide (same h,
    // different h2) — under an h-only partition they would share one cap
    // budget and the second window's sources would be silently dropped
    val sSide = Seq(
      (7L, 100L, 1L, 10L), (7L, 100L, 2L, 20L),
      (7L, 200L, 3L, 30L), (7L, 200L, 4L, 40L))
      .toDF("h", "h2", "src_id", "spos")
    val kept = withCap(2) {
      DedupQueries.substrSourceGuard(sSide, "pairkey")
        .select("h2", "src_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    }
    assert(kept == Set((100L, 1L), (100L, 2L), (200L, 3L), (200L, 4L)),
      s"each (h, h2) window must keep its own cap-2 budget, got $kept")
    // and without h2 the guard budgets per h (the documented fallback)
    val keptNoH2 = withCap(2) {
      DedupQueries.substrSourceGuard(
        sSide.drop("h2"), "pairkey_noh2")
        .select("src_id").collect().map(_.getLong(0)).toSet
    }
    assert(keptNoH2 == Set(1L, 2L),
      s"h-only frames budget per h: earliest 2 survive, got $keptNoH2")
  }
}
