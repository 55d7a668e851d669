package graft.engine

import org.apache.spark.sql.SparkSession

/** Session factory for the graft engine.
  *
  * Mirrors the reference's session bootstrap (`/root/reference/src/pipeline.py:12-18`)
  * but with scale-aware defaults the reference lacks:
  *
  *  - `spark.sql.shuffle.partitions` sized to the actual parallelism instead of
  *    Spark's default 200: a caller that passes no width gets the context's
  *    `defaultParallelism` (the task slots of local mode, the executor cores
  *    of a cluster); a caller that passes one keeps it.
  *  - AQE on: runtime coalescing of small shuffle partitions + skew-join
  *    splitting (both Spark defaults once AQE is on), which is what makes a
  *    fixed partition count survive a 100x scale-up.
  *  - UTC session timezone so date/timestamp semantics match the DuckDB oracle.
  *  - ANSI off in `compatSession`: the reference relies on Spark 3 silent
  *    cast-to-null for dirty strings (`pipeline.py:78-83`); Spark 4 defaults
  *    ANSI on, which would error instead.
  *  - Bounded SQL thread pools. The shuffle, broadcast and result-stage
  *    pools have a core size equal to their maximum (1024, 128, 1024), so
  *    each stage started a new thread that stayed for a minute, and live
  *    heap grew with every query (~2 MB per medallion run); 32 threads each
  *    is more than a local session runs at once.
  *  - Hadoop's `file:` scheme served by [[NioLocalFileSystem]] and
  *    [[NioLocalFs]]. Not set here: the `core-site.xml` among graft's
  *    resources names them for every Hadoop `Configuration` in the JVM, so
  *    sessions built without this factory get them too. Without Hadoop's
  *    native library the stock classes fork `chmod` for each file they
  *    create and `readlink` for each `FileContext` rename: ~400 process
  *    starts per stream micro-batch, in offset, commit and state-store
  *    files, and ~59 per medallion run in the CSV publish. The files on
  *    disk are the same.
  *  - A codegen cache of 256 classes (`spark.sql.codegen.cache.maxEntries`,
  *    default 100). A medallion pass generates ~170 classes, so at 100 every
  *    pass evicted and recompiled nearly all of them through Janino.
  *  - A status-store history of 50 jobs, stages and SQL executions
  *    (`spark.ui.retainedJobs`, `spark.ui.retainedStages`,
  *    `spark.sql.ui.retainedExecutions`; defaults 1000). Nothing in graft
  *    reads that store, and with the defaults live heap grew ~2 MB with
  *    every medallion pass.
  *
  * Both factories share one builder. `getOrCreate` applies its runtime SQL
  * confs to an already running session too; the static confs (thread pools,
  * codegen cache, status store) take effect only when it starts one.
  */
object SparkEnv {

  /** Scale-aware session for engine workloads. `shufflePartitions` = 0
    * (the default) derives the width from the context's parallelism.
    */
  def session(
      appName: String = "graft",
      master: String = "local[*]",
      shufflePartitions: Int = 0): SparkSession =
    build(appName, master, shufflePartitions, ansi = true)

  /** Reference-compatibility session: identical to [[session]] plus ANSI off,
    * so string->numeric casts over dirty bronze data yield NULL (Spark 3.x
    * behavior the reference pipeline depends on) instead of throwing.
    */
  def compatSession(
      appName: String = "graft-compat",
      master: String = "local[*]",
      shufflePartitions: Int = 0): SparkSession =
    build(appName, master, shufflePartitions, ansi = false)

  private def build(appName: String, master: String, shufflePartitions: Int,
      ansi: Boolean): SparkSession = {
    require(shufflePartitions >= 0,
      s"shufflePartitions must be >= 0 (0 derives it), got $shufflePartitions")
    val spark = SparkSession
      .builder()
      .master(master)
      .appName(appName)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.ansi.enabled", ansi.toString)
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.icu.caseMappings.enabled", "false")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.shuffleExchange.maxThreadThreshold", "32")
      .config("spark.sql.broadcastExchange.maxThreadThreshold", "32")
      .config("spark.sql.resultQueryStage.maxThreadThreshold", "32")
      .config("spark.sql.codegen.cache.maxEntries", "256")
      .config("spark.ui.retainedJobs", "50")
      .config("spark.ui.retainedStages", "50")
      .config("spark.sql.ui.retainedExecutions", "50")
      .getOrCreate()
    // set after getOrCreate: the derived width needs the running context,
    // and the conf must be positive whenever a session is built with it
    val width =
      if (shufflePartitions > 0) shufflePartitions
      else spark.sparkContext.defaultParallelism
    spark.conf.set("spark.sql.shuffle.partitions", width.toString)
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
