package graft.pipeline

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.graftshim.ListenerBus
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

import graft.SparkSpec

/** The pipeline's DQ rates and run-log row counts come from ONE action per
  * run; every other action a run issues is a publish write (the bronze
  * sources resolve their CSV headers without one).
  */
class PipelineActionsSpec extends SparkSpec {

  private def res(p: String): String =
    getClass.getResource(s"/reference/$p").getPath

  test("one pipeline run issues exactly one non-write action") {
    val actions = new ConcurrentLinkedQueue[String]()
    val listener = new QueryExecutionListener {
      def onSuccess(funcName: String, qe: QueryExecution, ns: Long): Unit =
        actions.add(funcName)
      def onFailure(funcName: String, qe: QueryExecution,
          e: Exception): Unit = actions.add(funcName)
    }
    ListenerBus.drain(spark.sparkContext)
    spark.listenerManager.register(listener)
    try {
      val result = LakehousePipeline.run(spark, LakehouseConfig(
        customersCsv = res("data/customers.csv"),
        workOrdersCsv = res("data/work_orders.csv"),
        partsSalesCsv = res("data/parts_sales.csv"),
        outputDir = "target/pipeline_actions_out"))
      ListenerBus.drain(spark.sparkContext)
      result.unpersistAll()
    } finally spark.listenerManager.unregister(listener)
    val all = actions.asScala.toSeq
    // a DataFrameWriter save reaches the listener as "command"
    assert(all.count(_ == "command") == 6, all)
    assert(all.filterNot(_ == "command") == Seq("collect"), all)
  }
}
