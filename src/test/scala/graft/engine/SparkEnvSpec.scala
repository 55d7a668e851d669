package graft.engine

import graft.SparkSpec

/** The factories apply their confs to the running shared session
  * (`getOrCreate`), so this spec restores the confs it changes.
  */
class SparkEnvSpec extends SparkSpec {
  private val width = "spark.sql.shuffle.partitions"
  private val ansi = "spark.sql.ansi.enabled"

  test("the shuffle width defaults to the context's parallelism") {
    val saved = Seq(width, ansi).map(k => k -> spark.conf.get(k))
    try {
      spark.conf.set(width, "5")
      val compat = SparkEnv.compatSession()
      assert(compat eq spark)
      assert(compat.conf.get(width) ==
        spark.sparkContext.defaultParallelism.toString)
      assert(compat.conf.get(ansi) == "false")
      val explicit = SparkEnv.session(shufflePartitions = 3)
      assert(explicit.conf.get(width) == "3")
      assert(explicit.conf.get(ansi) == "true")
      intercept[IllegalArgumentException](
        SparkEnv.session(shufflePartitions = -1))
    } finally saved.foreach { case (k, v) => spark.conf.set(k, v) }
  }
}
