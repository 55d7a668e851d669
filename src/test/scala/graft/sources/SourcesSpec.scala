package graft.sources

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._

import graft.SparkSpec

class SourcesSpec extends SparkSpec {
  import spark.implicits._

  test("JSON round-trip with explicit schema preserves rows and types") {
    val orig = spark.read.parquet(s"$sfDir/orders.parquet")
      .select("o_orderkey", "o_orderstatus", "o_totalprice")
    orig.write.mode("overwrite").json("target/src_json")
    val back = JsonSource.typed(spark, "target/src_json", orig.schema)
    assert(back.schema == orig.schema)
    assert(back.count() == orig.count())
    assert(back.agg(sum("o_totalprice")).head().getDouble(0) ==
      orig.agg(sum("o_totalprice")).head().getDouble(0))
  }

  test("XML round-trip with explicit schema preserves rows and values") {
    val orig = spark.read.parquet(s"$sfDir/nation.parquet")
      .select("n_nationkey", "n_name", "n_regionkey")
    XmlSource.write(orig, "target/src_xml", rowTag = "nation")
    val back = XmlSource.typed(spark, "target/src_xml", "nation", orig.schema)
    assert(back.schema == orig.schema)
    assert(back.count() == orig.count())
    val a = orig.orderBy("n_nationkey").collect().map(_.toSeq).toSeq
    val b = back.orderBy("n_nationkey").collect().map(_.toSeq).toSeq
    assert(a == b)
  }

  test("ORC round-trip preserves rows; filters push into the ORC scan") {
    val orig = spark.read.parquet(s"$sfDir/part.parquet")
    OrcSource.write(orig, "target/src_orc")
    val back = OrcSource.read(spark, "target/src_orc")
    assert(back.count() == orig.count())
    val filtered = back.filter(col("p_size") <= 10)
    val plan = filtered.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") &&
      plan.contains("LessThanOrEqual(p_size,10)"), plan.take(1500))
    assert(filtered.count() ==
      orig.filter(col("p_size") <= 10).count())
  }

  test("bronze CSV names columns as Spark's header inference does") {
    val dir = Paths.get("target/src_bronze")
    Files.createDirectories(dir.resolve("one"))
    val files = Seq(
      "plain.csv" -> "id,name,amount\n1,a,2.5\n2,,3\n",
      // blank lines first, a quoted name with a comma, a duplicate, an
      // empty name, a case-insensitive duplicate
      "awkward.csv" -> "\n \nid,\"last, first\",id,,Id\n1,x,2,3,4\n",
      "bom.csv" -> "\uFEFFid,name\n1,a\n",
      "header_only.csv" -> "a,b\n",
      "one/part.csv" -> "k,v\n1,2\n")
    for ((name, body) <- files)
      Files.write(dir.resolve(name), body.getBytes(UTF_8))
    // a directory is left to Spark's inference
    for (name <- files.map(_._1) :+ "one") {
      val path = dir.resolve(name).toString
      val inferred = spark.read.option("header", "true").csv(path)
      val bronze = CsvSource.bronze(spark, path)
      assert(bronze.schema == inferred.schema, name)
      assert(bronze.collect().toSeq == inferred.collect().toSeq, name)
    }
  }
}
