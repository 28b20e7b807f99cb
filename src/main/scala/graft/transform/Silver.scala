package graft.transform

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.model.Schemas

/** Silver-stage transforms: validation filters + status curation.
  *
  * Re-expresses the reference's silver Glue job
  * (`src/glue_jobs/etl_transactions_silver.py`). Validation and curation are
  * narrow (no shuffle — SURVEY.md §3.2): the three rules form one filter that
  * Catalyst pushes into the bronze Parquet scan as row-group/page filters.
  */
object Silver {

  /** The validation rules in the reference's order (`validate_bronze_df`,
    * `etl_transactions_silver.py:115-130`): each is the audit reject reason
    * and the predicate a valid row satisfies. Silver keeps the rows where
    * all hold; `Audit.rejectReasonCol` tags the first that does not.
    *  - amount > 0 (`validate_amount`, `:24-38`; NULL fails);
    *  - currency ∈ {USD, EUR, GBP, JPY, AUD, CAD}
    *    (`validate_currency_types`, `:41-57`);
    *  - status ∈ the 8 known statuses (`validate_txn_statuses`, `:60-86`). */
  val rules: Seq[(String, Column)] = Seq(
    Audit.ReasonBadAmount -> (col("amount") > 0),
    Audit.ReasonBadCurrency -> col("currency").isin(Schemas.validCurrencies: _*),
    Audit.ReasonBadStatus -> col("status").isin(Schemas.validStatuses: _*))

  /** The curated-status CASE expression, exposed as a Column so the audit
    * layer can reuse it. Reference mapping:
    * `etl_transactions_silver.py:100-110`. */
  def statusCuratedCol(status: Column): Column =
    when(status.isin("AUTHORISED", "PENDING"), "PENDING")
      .when(status.isin("SETTLED", "SUCCESS"), "SUCCESS")
      .when(status === "REFUNDED", "REFUNDED")
      .when(status.isin("CHARGEBACK", "DECLINED", "FAILED"), "FAILED")
      .otherwise("UNKNOWN")

  /** Add status_curated ∈ {PENDING, SUCCESS, REFUNDED, FAILED, UNKNOWN}.
    * Reference: `etl_transactions_silver.py:89-112` (curate_status). */
  def curateStatus(df: DataFrame): DataFrame =
    df.withColumn("status_curated", statusCuratedCol(col("status")))

  /** The rows that pass every rule, status-curated (reference
    * `validate_bronze_df` + `curate_status`). */
  def pipeline(bronze: DataFrame): DataFrame =
    curateStatus(bronze.where(rules.map(_._2).reduce(_ && _)))
}
