package perfbench

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession

import graft.SparkEntry
import graft.engine.SparkEnv
import graft.pipeline.{LakehouseConfig, LakehousePipeline, LakehouseResult}
import graft.sql.Metrics

/** A benchmark workload. A pass runs whole operations in a seeded order;
  * the first pass of a JVM is the cold one that set-up time includes.
  */
trait Workload {
  /** Timed passes a run makes at least, so that every run does the same
    * work when `--seconds` is shorter than that many passes.
    */
  def minPasses: Int
  /** The operation whose latency is the workload's batch latency. */
  def batchOp: String
  def session(slots: Int): SparkSession
  def pass(spark: SparkSession, rec: Recorder): Unit
  /** Untimed: writes every checked output under `dir` and returns the
    * checked operation names with the error each threw, if any.
    */
  def check(spark: SparkSession, dir: String): Seq[(String, Option[String])]
  /** The workload's own cleanup, run before live heap is taken. */
  def cleanup(spark: SparkSession): Unit = ()
  /** Workload-specific raw numbers for the result record. */
  def extra: Map[String, Any] = Map.empty
}

object Workload {
  /** The seeded order of a pass's operations. */
  def order[T](items: Seq[T], seed: Long, pass: Int): Seq[T] =
    new scala.util.Random(seed * 1000003L + pass).shuffle(items)

  def attemptCheck(name: String)(f: => Unit): (String, Option[String]) =
    try { f; (name, None) }
    catch {
      case e: Exception =>
        (name, Some(s"${e.getClass.getName}: ${e.getMessage}".take(400)))
    }

  def apply(name: String, input: String, work: String, seed: Long)
      : Workload = name match {
    case "medallion" => new Medallion(input, work, seed)
    case "stream" => new StreamWorkload(work, seed)
    case other => throw new IllegalArgumentException(s"no workload $other")
  }
}

/** The reference's own job: Bronze->Silver->Gold over dirty CSVs, the DQ
  * ledger and run log published as CSV, then the three metric queries and
  * the registry queries of `Medallion.registry` over the seeded tables in
  * `input/tables`.
  */
final class Medallion(input: String, work: String, seed: Long)
    extends Workload {
  val minPasses = 2
  val batchOp = "pipeline"
  private var passNo = 0
  private var last: Option[LakehouseResult] = None
  private val metrics = Seq(
    "revenue_per_customer" -> Metrics.revenuePerCustomer _,
    "orders_by_status_month" -> Metrics.ordersByStatusMonth _,
    "avg_ticket" -> Metrics.avgTicket _)
  private val metricNames = metrics.map(_._1).toSet
  private val queries = metrics ++ Medallion.registry.map { name =>
    name -> ((spark: SparkSession) =>
      SparkEntry.queries(name)(spark, s"$input/tables"))
  }

  /** As `graft.pipeline.Main` creates it: the factory's own partitioning. */
  def session(slots: Int): SparkSession =
    SparkEnv.compatSession(appName = "perfbench-medallion",
      master = s"local[$slots]")

  private def run(spark: SparkSession, out: String): LakehouseResult =
    LakehousePipeline.run(spark, LakehouseConfig(
      customersCsv = s"$input/customers.csv",
      workOrdersCsv = s"$input/work_orders.csv",
      partsSalesCsv = s"$input/parts_sales.csv",
      outputDir = out))

  def pass(spark: SparkSession, rec: Recorder): Unit = {
    last = None
    rec.attempt("pipeline") {
      last = Some(rec.span("pipeline", "build")(run(spark, s"$work/out")))
    }
    last.foreach(r => Metrics.registerViews(r.dimCustomer, r.factWorkOrder,
      r.factPartsSales))
    for ((name, q) <- Workload.order(queries, seed, passNo))
      rec.query(name) {
        require(last.isDefined || !metricNames(name), "the pipeline failed")
        q(spark)
      }
    last.foreach(_.unpersistAll())
    passNo += 1
  }

  /** The last warm pass published the gold tables, DQ ledger and run log
    * under `work/out`; the check reads those, and writes the metric results
    * of the same pass's views (recomputed, their caches are released), the
    * registry queries' results and their oracle SQL.
    */
  def check(spark: SparkSession, dir: String)
      : Seq[(String, Option[String])] = {
    new java.io.File(s"$dir/registry").mkdirs()
    val oracles = Medallion.registry.map(n => n -> SparkEntry.oracleSql(n))
    new ObjectMapper().registerModule(DefaultScalaModule).writeValue(
      new java.io.File(s"$dir/registry/oracle_sql.json"), oracles.toMap)
    ("pipeline", if (last.isDefined) None else Some("the pipeline failed")) +:
      queries.map { case (name, q) =>
        val sub = if (metricNames(name)) "metrics" else "registry"
        Workload.attemptCheck(name) {
          require(last.isDefined || sub == "registry", "the pipeline failed")
          q(spark).write.mode("overwrite").parquet(s"$dir/$sub/$name")
        }
      }
  }
}

object Medallion {
  /** `graft.SparkEntry.queries` entries whose construction runs eager jobs
    * from `graft.operators` (x108: `Profile.histogramDrift` collects the
    * value range before it bins), over the seeded `orders` table.
    */
  val registry: Seq[String] = Seq("x108_histogram_drift")
}
