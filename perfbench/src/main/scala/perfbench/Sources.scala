package perfbench

import graft.core._
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, IntegerType}

/** The registered sources the generated drop files are written for. The
  * generator in `gen.py` writes files matching these patterns and columns,
  * and models what the pipeline should do with them; keep the two in step.
  */
object Sources {
  /** Customer master data shaped like the reference's Customer source:
    * phone cleanup, trimmed and lower-cased email with a format check,
    * max lengths, a date column, a unique grain and a custom audit.
    */
  private val customerColumns: Seq[ColumnSpec] = Seq(
    ColumnSpec.long("customer_id", nullable = false),
    ColumnSpec.string("first_name", nullable = false, maxLength = 50),
    ColumnSpec.string("last_name", maxLength = 50),
    ColumnSpec.emailCol("email", nullable = false)
      .copy(cleaners = Seq((c: Column) => lower(trim(c)))),
    ColumnSpec.string("phone", maxLength = 20)
      .copy(cleaners = Seq((c: Column) => regexp_replace(c, "[^0-9]", ""))),
    ColumnSpec.date("signup_date", nullable = false),
    ColumnSpec(name = "balance", dataType = DoubleType,
      check = Some(("balance must be non-negative", (c: Column) => c >= 0))),
    ColumnSpec.string("segment", maxLength = 12))

  private val balanceAudit = Some(
    "SELECT CASE WHEN MIN(balance) >= 0 THEN 1 ELSE 0 END AS balance_non_negative FROM {table}")

  /** The paper's workload: one large parquet file, insert-only publish. */
  val customers: SourceConfig = SourceConfig(
    name = "customers", filePattern = "customers_*.parquet",
    sourceType = "parquet", columns = customerColumns,
    tableName = "customers", grain = Seq("customer_id"),
    auditQuery = balanceAudit, validationErrorThreshold = 0.01)

  /** A CSV delta merged into a bucketed copy-on-write target. */
  val crm: SourceConfig = SourceConfig(
    name = "crm", filePattern = "crm_*.csv", sourceType = "csv",
    columns = customerColumns, tableName = "crm_customers",
    grain = Seq("customer_id"), auditQuery = balanceAudit,
    validationErrorThreshold = 0.05, formatOptions = CsvOptions())

  /** Small files: three sources over csv / csv.gz, json and parquet. */
  val shopOrders: SourceConfig = SourceConfig(
    name = "shop_orders", filePattern = "orders_*.csv*", sourceType = "csv",
    columns = Seq(
      ColumnSpec.long("order_id", nullable = false),
      ColumnSpec.long("customer_id"),
      ColumnSpec.string("sku", maxLength = 12),
      ColumnSpec(name = "quantity", dataType = IntegerType,
        check = Some(("quantity must be positive", (c: Column) => c > 0))),
      ColumnSpec.double("unit_price"),
      ColumnSpec.date("order_date")),
    tableName = "shop_orders", grain = Seq("order_id"),
    validationErrorThreshold = 0.05, formatOptions = CsvOptions())

  val ledger: SourceConfig = SourceConfig(
    name = "ledger", filePattern = "ledger_*.json", sourceType = "json",
    columns = Seq(
      ColumnSpec.long("entry_id", nullable = false),
      ColumnSpec.string("account_code", maxLength = 10),
      ColumnSpec.double("debit_amount"),
      ColumnSpec.double("credit_amount"),
      ColumnSpec.date("entry_date")),
    tableName = "ledger_entries", grain = Seq("entry_id"),
    validationErrorThreshold = 0.05,
    formatOptions = JsonOptions(arrayPath = Some("entries.item")))

  val webEvents: SourceConfig = SourceConfig(
    name = "web_events", filePattern = "events_*.parquet",
    sourceType = "parquet",
    columns = Seq(
      ColumnSpec.long("event_id", nullable = false),
      ColumnSpec.long("user_id"),
      ColumnSpec.string("event_type", maxLength = 16),
      ColumnSpec.double("value"),
      ColumnSpec.timestamp("ts")),
    tableName = "web_events", grain = Seq("event_id"),
    validationErrorThreshold = 0.05)

  def registry(workload: String): SourceRegistry = new SourceRegistry(workload match {
    case "ingest_sweep" => Seq(customers, crm, shopOrders, ledger, webEvents)
    case _ => Nil
  })

  /** Columns of the customer targets' content checksum, in order. */
  val customerColumnNames: Seq[String] = customerColumns.map(_.name)
}
