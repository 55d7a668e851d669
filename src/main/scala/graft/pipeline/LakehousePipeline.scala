package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.dq.{Checks, DqResult, ForeignKey, RunLog, TableChecks}
import graft.operators.{Conform, DateDim, DedupLatest, NullPolicy, OrphanPolicy}
import graft.sources.{CsvSource, SingleFileCsvSink}

/** The medallion Bronze->Silver->Gold pipeline with the capabilities of the
  * reference (`/root/reference/src/pipeline.py` end to end), expressed through
  * the graft operator library.
  *
  * Semantics per layer (reference sites cited in each operator's scaladoc):
  *  - Bronze: header CSV, all columns string (`pipeline.py:39-44`).
  *  - Silver: latest-record dedup per PK; `work_orders` drops null
  *    `order_date`; `parts_sales` casts quantity int, unit_price
  *    decimal(10,2) with null->0, total_price = quantity*unit_price as
  *    decimal(12,2) (`pipeline.py:47-93`).
  *  - Gold: `dim_customer` + UNKNOWN(-1) member; `fact_work_order` conformed
  *    on customer_id (policy-driven, see below) with null FK -> -1;
  *    `fact_parts_sales` inner-conformed on work_order_id (orphans rejected);
  *    derived `dim_date` (`pipeline.py:94-187`).
  *  - DQ: null/dup/orphan rates with thresholds 0.01/0.0/0.0 -> 6-col ledger
  *    (`pipeline.py:189-253`), plus the fact_work_order->dim_customer orphan
  *    check the reference documents but never runs (SURVEY.md §2.9).
  *  - Run log: uuid/start/end/duration/row counts (`pipeline.py:333-366`).
  *
  * Orphan policy on fact_work_order.customer_id:
  *  - [[OrphanPolicy.MapToUnknown]] (default) = the reference's *documented*
  *    contract (dangling FK -> -1, `defesa.txt:62`);
  *  - [[OrphanPolicy.KeepDangling]] = the reference's *actual* behavior
  *    (left USING join keeps the dangling key), used to reproduce the
  *    committed golden outputs bit-for-bit.
  *
  * Scale notes: each silver frame has exactly one consumer, and the gold
  * frame built from it is persisted, so silver is computed once per run (the
  * reference re-scans bronze CSVs for every one of its ~10 actions);
  * dimension probes are broadcast; all DQ rates and run-log counts come from
  * one action; the only unavoidable wide shuffles are the per-PK dedup
  * windows, which partition by the dedup key and therefore scale linearly.
  */
final case class LakehouseConfig(
    customersCsv: String,
    workOrdersCsv: String,
    partsSalesCsv: String,
    outputDir: String,
    orphanPolicy: OrphanPolicy = OrphanPolicy.MapToUnknown(-1),
    writeOutputs: Boolean = true)

final case class LakehouseResult(
    dimCustomer: DataFrame,
    factWorkOrder: DataFrame,
    factPartsSales: DataFrame,
    dimDate: DataFrame,
    dqResults: DataFrame,
    run: graft.dq.PipelineRun,
    cached: Seq[DataFrame] = Nil) {
  /** Release every cache this run pinned (the gold frames). Call
    * once the result frames have been consumed; the frames stay valid,
    * later actions just recompute. Blocks until the blocks are gone, so the
    * removal does not run on into whatever the caller does next.
    */
  def unpersistAll(): Unit = cached.foreach(_.unpersist(blocking = true))
}

object LakehousePipeline {

  def run(spark: SparkSession, cfg: LakehouseConfig): LakehouseResult = {
    val (runId, startedAt) = RunLog.start()

    // ---- bronze ----
    val customersB = CsvSource.bronze(spark, cfg.customersCsv)
    val workOrdersB = CsvSource.bronze(spark, cfg.workOrdersCsv)
    val partsSalesB = CsvSource.bronze(spark, cfg.partsSalesCsv)

    // ---- silver ----
    val customersS = DedupLatest(customersB, Seq("customer_id"), "created_at")
    val workOrdersS = NullPolicy(
      DedupLatest(workOrdersB, Seq("work_order_id"), "updated_at"),
      "order_date", NullPolicy.DropRow)
    val partsSalesS = DedupLatest(partsSalesB, Seq("sale_id"), "updated_at")
      .withColumn("quantity", expr("try_cast(quantity AS INT)"))
      .withColumn("unit_price",
        expr("try_cast(coalesce(unit_price, '0') AS DECIMAL(10,2))"))
      .withColumn("total_price",
        (col("quantity") * col("unit_price")).cast("decimal(12,2)"))

    // ---- gold ----
    val dimCustomer = Conform.withUnknownMember(
      customersS.select("customer_id", "customer_name", "segment", "state"),
      keyCol = "customer_id", unknownKey = -1).cache()

    val factWorkOrder = Conform.fact(
      NullPolicy(workOrdersS, "customer_id", NullPolicy.ToUnknown(-1)),
      fk = "customer_id", dim = dimCustomer, pk = "customer_id",
      policy = cfg.orphanPolicy)
      .select("work_order_id", "customer_id", "order_date", "status",
        "labor_hours", "labor_cost")
      .cache()

    val factPartsSales = Conform.fact(
      partsSalesS, fk = "work_order_id", dim = factWorkOrder,
      pk = "work_order_id", policy = OrphanPolicy.Reject)
      .select("sale_id", "work_order_id", "sku", "quantity", "unit_price",
        "total_price", "sale_date")
      .cache()

    val dimDate = DateDim.fromDateColumns(
      Seq((factWorkOrder, "order_date"), (factPartsSales, "sale_date")))

    // ---- data quality + run log: every rate and row count in ONE action ----
    val Seq(dimCustomerDq, factWorkOrderDq, factPartsSalesDq) =
      Checks.counts(Seq(
        TableChecks(dimCustomer, key = Some("customer_id")),
        // the orphan check the reference documents but never implements
        // (SURVEY §2.9):
        TableChecks(factWorkOrder, key = Some("work_order_id"),
          ref = Some(ForeignKey("customer_id", dimCustomer, "customer_id"))),
        TableChecks(factPartsSales,
          ref = Some(ForeignKey("work_order_id", factWorkOrder,
            "work_order_id")))))
    val dqRows: Seq[DqResult] = Seq(
      Checks.evaluate("null_rate_customer_id", "dim_customer",
        dimCustomerDq.nullRate, 0.01, "customer_id should not be null"),
      Checks.evaluate("duplicate_rate_work_order", "fact_work_order",
        factWorkOrderDq.dupRate, 0.0, "work_order_id must be unique"),
      Checks.evaluate("orphan_rate_parts_sales", "fact_parts_sales",
        factPartsSalesDq.orphanRate, 0.0,
        "sales must reference valid work_order"),
      Checks.evaluate("orphan_rate_work_order", "fact_work_order",
        factWorkOrderDq.orphanRate, 0.0,
        "work orders must reference valid customer"))
    val dqDf = Checks.ledger(spark, dqRows)

    // ---- run log + publish ----
    val run = RunLog.finish(runId, startedAt, dimCustomerDq.n,
      factWorkOrderDq.n, factPartsSalesDq.n)

    if (cfg.writeOutputs) {
      val out = cfg.outputDir
      SingleFileCsvSink.write(dimCustomer, s"$out/gold/dim_customer.csv")
      SingleFileCsvSink.write(factWorkOrder, s"$out/gold/fact_work_order.csv")
      SingleFileCsvSink.write(factPartsSales, s"$out/gold/fact_parts_sales.csv")
      SingleFileCsvSink.write(dimDate, s"$out/gold/dim_date.csv")
      SingleFileCsvSink.write(dqDf, s"$out/dq/dq_results.csv")
      SingleFileCsvSink.write(RunLog.toDf(spark, run), s"$out/dq/pipeline_runs.csv")
    }

    LakehouseResult(dimCustomer, factWorkOrder, factPartsSales, dimDate, dqDf,
      run,
      cached = Seq(dimCustomer, factWorkOrder, factPartsSales))
  }
}
