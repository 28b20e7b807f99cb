package graft.transform

import org.apache.spark.sql.{Column, DataFrame, Observation}
import org.apache.spark.sql.functions._

/** Audit / data-quality layer — the README-declared-but-unimplemented surface
  * of the reference (`README.md:53`, `:85-87`: invalid records with reasons
  * plus a DQ summary).
  *
  * Design: ONE scan of bronze. `tagRejects` adds a `reject_reason` column in
  * a single projection (no per-rule passes); callers then split with two
  * cheap filters (Catalyst shares the tagged plan). The DQ summary is not a
  * second pass either: `observed` attaches its counts to the tagged frame,
  * so the action that writes the invalid split also produces them. At
  * 100 TB this matters: rule-per-pass designs re-scan the lake once per rule.
  *
  * Reasons map 1:1 to the generator's fault injector
  * (`src/data_generator/generate_transaction_data.py:111-140`); note
  * `blank_user` has NO matching silver filter in the reference — those rows
  * pass silver silently (SURVEY.md §2.13). We preserve that: blank_user is
  * surfaced by the audit layer only and does NOT reject a row.
  */
object Audit {

  val ReasonBadAmount = "null_or_nonpositive_amount"
  val ReasonBadCurrency = "invalid_currency"
  val ReasonBadStatus = "invalid_status"
  /** Audit-only observation; does not filter (parity with reference). */
  val FlagBlankUser = "blank_user"

  /** First-match reject reason over `Silver.rules`, NULL when the row passes
    * silver validation. A NULL rule result counts as a failure, because
    * silver's `where` drops those rows too. */
  def rejectReasonCol: Column = {
    val arms = Silver.rules.map { case (reason, valid) =>
      (!coalesce(valid, lit(false)), reason)
    }
    arms.tail.foldLeft(when(arms.head._1, arms.head._2)) {
      case (c, (failed, reason)) => c.when(failed, reason)
    }
  }

  def tagRejects(bronze: DataFrame): DataFrame = bronze
    .withColumn("reject_reason", rejectReasonCol)
    .withColumn("blank_user_flag",
      col("user_id").isNull || trim(col("user_id")) === "")

  /** Rows silver would drop, with the reason attached. */
  def invalidRecords(tagged: DataFrame): DataFrame =
    tagged.filter(col("reject_reason").isNotNull).drop("blank_user_flag")

  /** Rows silver keeps (reject_reason is null). */
  def validRecords(tagged: DataFrame): DataFrame =
    tagged.filter(col("reject_reason").isNull)
      .drop("reject_reason", "blank_user_flag")

  /** The DQ counts, in the order the summary JSON lists them. */
  private def dqMetrics: Seq[(String, Column)] = {
    def reason(r: String) = count(when(col("reject_reason") === r, 1))
    Seq(
      "input_rows" -> count(lit(1)),
      "valid_rows" -> count(when(col("reject_reason").isNull, 1)),
      "invalid_rows" -> count(col("reject_reason")),
      "blank_user_rows" -> count(when(col("blank_user_flag"), 1)),
      "n_bad_amount" -> reason(ReasonBadAmount),
      "n_bad_currency" -> reason(ReasonBadCurrency),
      "n_bad_status" -> reason(ReasonBadStatus))
  }

  /** Zero-extra-scan DQ metrics: attach an [[Observation]] to the tagged
    * frame so whatever action runs next (the audit write, in `Runner`) ALSO
    * produces the counts. Read `obs.get` after the action completes; a
    * retried action needs a fresh call, since an Observation serves one
    * Dataset only. */
  def observed(tagged: DataFrame): (DataFrame, Observation) = {
    val obs = Observation("dq")
    val cols = dqMetrics.map { case (name, c) => c.as(name) }
    (tagged.observe(obs, cols.head, cols.tail: _*), obs)
  }

  /** The DQ summary as a single JSON line (the README's summary-JSON
    * artifact, `README.md:87`): `observed`'s counts in order, then
    * `run_date`. Rendered on the driver from the observed row. */
  def dqJson(metrics: Map[String, Any], runDate: String): String = {
    val node = new com.fasterxml.jackson.databind.ObjectMapper().createObjectNode()
    dqMetrics.foreach { case (name, _) =>
      node.put(name, metrics(name).asInstanceOf[Long])
    }
    node.put("run_date", runDate).toString
  }
}
