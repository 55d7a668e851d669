package graft.engine

import java.net.URI

import graft.SparkSpec
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{AbstractFileSystem, FileSystem, LocalFileSystem}

/** The factories apply their confs to the running shared session
  * (`getOrCreate`), so this spec restores the confs it changes.
  */
class SparkEnvSpec extends SparkSpec {
  private val width = "spark.sql.shuffle.partitions"
  private val ansi = "spark.sql.ansi.enabled"

  private def restoringConfs(body: => Unit): Unit = {
    val saved = Seq(width, ansi).map(k => k -> spark.conf.get(k))
    try body finally saved.foreach { case (k, v) => spark.conf.set(k, v) }
  }

  test("the shuffle width defaults to the context's parallelism") {
    restoringConfs {
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
    }
  }

  test("every Hadoop conf, a factory session's too, resolves the fork-free file: scheme") {
    val root = URI.create("file:///")
    def resolves(conf: Configuration): Unit = {
      // a new instance: Hadoop's FileSystem cache is per scheme, not per conf
      val fs = FileSystem.newInstance(root, conf)
      try {
        assert(fs.getClass == classOf[NioLocalFileSystem])
        assert(fs.asInstanceOf[LocalFileSystem].getRaw.getClass ==
          classOf[NioRawLocalFileSystem])
      } finally fs.close()
      assert(AbstractFileSystem.get(root, conf).getClass == classOf[NioLocalFs])
    }
    // a bare conf sees only Hadoop's default resources (core-site.xml)
    resolves(new Configuration())
    restoringConfs(resolves(SparkEnv.session().sessionState.newHadoopConf()))
  }
}
