package graft.transform

import org.apache.spark.sql.Row

import graft.SparkSpec
import graft.model.Schemas

class SilverAuditSpec extends SparkSpec {
  import scala.jdk.CollectionConverters._

  private def bronzeDf(rows: Seq[(String, String, String, String, String, String)]) = {
    // (txn_id, user_id, amount, currency, status, ts)
    val raw = rows.map { case (id, u, a, c, st, ts) =>
      Row(id, "m_0001", u, a, c, st, ts, "GB")
    }
    Bronze.pipeline(spark.createDataFrame(raw.asJava, Schemas.raw))
  }

  private val good = ("t0", "u_1", "10.00", "GBP", "SETTLED", "2025-08-01T10:00:00")

  /** Rows that pass the one named rule of `Silver.rules`. */
  private def keep(reason: String)(df: org.apache.spark.sql.DataFrame) =
    df.where(Silver.rules.toMap.apply(reason))

  test("validateAmount drops null and non-positive amounts") {
    val df = bronzeDf(Seq(good,
      ("t1", "u_1", "-5.00", "GBP", "SETTLED", "2025-08-01T10:00:00"),
      ("t2", "u_1", "0.00", "GBP", "SETTLED", "2025-08-01T10:00:00"),
      ("t3", "u_1", "junk", "GBP", "SETTLED", "2025-08-01T10:00:00")))
    val kept = keep(Audit.ReasonBadAmount)(df).select("txn_id").collect().map(_.getString(0))
    assert(kept.toSet == Set("T0"))
  }

  test("validateCurrency keeps only the 6 known currencies") {
    val df = bronzeDf(Seq(good, ("t1", "u_1", "5.00", "ZZZ", "SETTLED", "2025-08-01T10:00:00")))
    assert(keep(Audit.ReasonBadCurrency)(df).count() == 1)
  }

  test("validateStatus keeps only the 8 known statuses") {
    val df = bronzeDf(Seq(good, ("t1", "u_1", "5.00", "GBP", "PENDINGISH", "2025-08-01T10:00:00")))
    assert(keep(Audit.ReasonBadStatus)(df).count() == 1)
  }

  test("curateStatus maps every status to its curated value incl UNKNOWN") {
    val cases = Seq(
      "AUTHORISED" -> "PENDING", "PENDING" -> "PENDING",
      "SETTLED" -> "SUCCESS", "SUCCESS" -> "SUCCESS",
      "REFUNDED" -> "REFUNDED",
      "CHARGEBACK" -> "FAILED", "DECLINED" -> "FAILED", "FAILED" -> "FAILED",
      "WEIRD" -> "UNKNOWN")
    val df = bronzeDf(cases.zipWithIndex.map { case ((st, _), i) =>
      (s"t$i", "u_1", "5.00", "GBP", st, "2025-08-01T10:00:00")
    })
    val got = Silver.curateStatus(df).select("status", "status_curated")
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    cases.foreach { case (st, want) => assert(got(st) == want, s"$st") }
  }

  test("silver pipeline = ordered F1∘F2∘F3∘P4; output ⊆ input") {
    val df = bronzeDf(Seq(good,
      ("t1", "u_1", "-5.00", "GBP", "SETTLED", "2025-08-01T10:00:00"),
      ("t2", "u_1", "5.00", "ZZZ", "SETTLED", "2025-08-01T10:00:00"),
      ("t3", "u_1", "5.00", "GBP", "PENDINGISH", "2025-08-01T10:00:00")))
    val out = Silver.pipeline(df)
    assert(out.count() == 1)
    // compare names+types; nullability differs (CASE+otherwise is non-null)
    assert(out.schema.map(f => f.name -> f.dataType) ==
      Schemas.silver.map(f => f.name -> f.dataType))
  }

  test("audit: valid ∪ invalid = input, reasons map 1:1 to injected faults") {
    val df = bronzeDf(Seq(good,
      ("t1", "u_1", "-5.00", "GBP", "SETTLED", "2025-08-01T10:00:00"),
      ("t2", "u_1", "5.00", "ZZZ", "SETTLED", "2025-08-01T10:00:00"),
      ("t3", "u_1", "5.00", "GBP", "PENDINGISH", "2025-08-01T10:00:00"),
      ("t4", "", "5.00", "GBP", "SETTLED", "2025-08-01T10:00:00")))
    val tagged = Audit.tagRejects(df)
    val invalid = Audit.invalidRecords(tagged)
    val valid = Audit.validRecords(tagged)
    assert(valid.count() + invalid.count() == df.count())
    val reasons = invalid.select("txn_id", "reject_reason").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(reasons == Map(
      "T1" -> Audit.ReasonBadAmount,
      "T2" -> Audit.ReasonBadCurrency,
      "T3" -> Audit.ReasonBadStatus))
    // blank_user passes validation (reference parity, SURVEY §2.13) but is flagged
    assert(valid.filter("txn_id = 'T4'").count() == 1)
    assert(tagged.filter("txn_id = 'T4' AND blank_user_flag").count() == 1)
  }

  test("audit: valid records match the silver pipeline row set") {
    val df = bronzeDf(Seq(good,
      ("t1", "u_1", "-5.00", "GBP", "SETTLED", "2025-08-01T10:00:00"),
      ("t2", "u_1", "5.00", "ZZZ", "SETTLED", "2025-08-01T10:00:00")))
    val viaAudit = Audit.validRecords(Audit.tagRejects(df))
      .select("txn_id").collect().map(_.getString(0)).toSet
    val viaSilver = Silver.pipeline(df)
      .select("txn_id").collect().map(_.getString(0)).toSet
    assert(viaAudit == viaSilver)
  }

  test("DQ summary counts in one pass") {
    val df = bronzeDf(Seq(good,
      ("t1", "u_1", "-5.00", "GBP", "SETTLED", "2025-08-01T10:00:00"),
      ("t4", "", "5.00", "GBP", "SETTLED", "2025-08-01T10:00:00")))
    val (observed, obs) = Audit.observed(Audit.tagRejects(df))
    observed.write.mode("overwrite").format("noop").save()
    assert(Audit.dqJson(obs.get, "2025-08-03") ==
      """{"input_rows":3,"valid_rows":2,"invalid_rows":1,"blank_user_rows":1,""" +
        """"n_bad_amount":1,"n_bad_currency":0,"n_bad_status":0,"run_date":"2025-08-03"}""")
  }

  test("gold merchantDailyKpis aggregates per merchant-day") {
    val silver = Silver.pipeline(bronzeDf(Seq(
      good,
      ("t5", "u_2", "30.00", "GBP", "DECLINED", "2025-08-01T12:00:00"))))
    val kpis = Gold.merchantDailyKpis(silver).collect().head
    assert(kpis.getAs[Long]("txn_count") == 2)
    assert(kpis.getAs[java.math.BigDecimal]("gross_amount").doubleValue() == 40.0)
    assert(kpis.getAs[Long]("distinct_users") == 2)
    assert(kpis.getAs[Double]("success_rate") == 0.5)
  }

  test("observed DQ metrics ride the next action (no extra scan)") {
    val df = bronzeDf(Seq(good,
      ("t1", "u_1", "-5.00", "GBP", "SETTLED", "2025-08-01T10:00:00"),
      ("t4", "", "5.00", "GBP", "SETTLED", "2025-08-01T10:00:00")))
    val (observed, obs) = Audit.observed(Audit.tagRejects(df))
    observed.write.mode("overwrite").format("noop").save() // the one action
    val m = obs.get
    assert(m("input_rows") == 3L)
    assert(m("valid_rows") == 2L)
    assert(m("invalid_rows") == 1L)
    assert(m("blank_user_rows") == 1L)
  }

  test("audit tags NULL currency/status as invalid, agreeing with silver") {
    // CSV empty fields arrive as NULL; silver's isin() DROPS them, so the
    // audit must tag them (regression: !isin(NULL) is NULL, not true)
    import org.apache.spark.sql.functions.lit
    val df = bronzeDf(Seq(good))
      .union(bronzeDf(Seq(("t7", "u_1", "5.00", "GBP", "SETTLED", "2025-08-01T10:00:00")))
        .withColumn("currency", lit(null).cast("string")))
      .union(bronzeDf(Seq(("t8", "u_1", "5.00", "GBP", "SETTLED", "2025-08-01T10:00:00")))
        .withColumn("status", lit(null).cast("string")))
    val tagged = Audit.tagRejects(df)
    assert(Audit.validRecords(tagged).count() == Silver.pipeline(df).count())
    val reasons = Audit.invalidRecords(tagged)
      .select("txn_id", "reject_reason").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(reasons == Map(
      "T7" -> Audit.ReasonBadCurrency,
      "T8" -> Audit.ReasonBadStatus))
  }
}
