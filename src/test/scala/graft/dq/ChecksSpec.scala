package graft.dq

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec

class ChecksSpec extends SparkSpec {
  import spark.implicits._

  private def table = Seq(
    Some("a"), Some("a"), Some("b"), None, Some("c")
  ).toDF("k") // 5 rows: 1 null, 1 duplicate surplus copy of "a"

  test("null rate and dup rate in one pass") {
    val (nullRate, dupRate) = Checks.keyRates(table, "k")
    assert(nullRate == 0.2)
    assert(dupRate == 0.2) // (5 - 1 null - 3 distinct) / 5
  }

  test("orphan rate via anti join") {
    val child = Seq("p1", "p1", "p2", "px").toDF("fk")
    val parent = Seq("p1", "p2", "p3").toDF("pk")
    assert(Checks.orphanRate(child, "fk", parent, "pk") == 0.25)
  }

  test("empty table yields zero rates") {
    val empty = table.limit(0)
    assert(Checks.keyRates(empty, "k") == ((0.0, 0.0)))
    assert(Checks.orphanRate(empty, "k", table, "k") == 0.0)
  }

  // 6 rows: keys with 2 nulls and a duplicate "a"; FKs with 2 nulls and
  // one dangling "px"
  private def child = Seq(
    (Some("a"), Some("p1")), (Some("a"), None), (Some("b"), Some("p2")),
    (None, Some("px")), (None, Some("p1")), (Some("c"), None)
  ).toDF("k", "fk")

  // parent keys with a duplicate "p1" and a null
  private def parent = Seq(Some("p1"), Some("p1"), Some("p2"), None,
    Some("p3")).toDF("pk")

  /** The reference's per-check formulas, each its own action
    * (pipeline.py:205-246): distinct() counts NULL as one value, and the
    * anti-join leaves null FKs unmatched.
    */
  private def referenceRates(df: DataFrame, key: String,
      ref: Option[ForeignKey]): Seq[Double] = {
    val n = df.count().toDouble
    def rate(k: Long) = if (n == 0) 0.0 else k / n
    val orphans = ref.fold(0L) { r =>
      df.join(r.parent.select(col(r.pk).as("__p")), col(r.fk) === col("__p"),
        "left_anti").count()
    }
    Seq(rate(df.filter(col(key).isNull).count()),
      rate(df.count() - df.select(key).distinct().count()), rate(orphans))
  }

  test("fused counts of several tables match the per-check results") {
    val empty = child.filter(lit(false))
    val ref = Some(ForeignKey("fk", parent, "pk"))
    val got = Checks.counts(Seq(
      TableChecks(child, key = Some("k"), ref = ref),
      TableChecks(parent, key = Some("pk")),
      TableChecks(empty, key = Some("k"), ref = ref)))
    assert(got.map(_.n) == Seq(6L, 5L, 0L))
    def rates(c: KeyCounts) = Seq(c.nullRate, c.dupRate, c.orphanRate)
    assert(rates(got(0)) == referenceRates(child, "k", ref))
    assert(rates(got(0)) == Seq(2.0 / 6, 2.0 / 6, 3.0 / 6))
    assert(rates(got(1)) == referenceRates(parent, "pk", None))
    assert(rates(got(1)) == Seq(0.2, 0.2, 0.0))
    assert(rates(got(2)) == Seq(0.0, 0.0, 0.0))
    // the single-check wrappers read the same aggregate
    assert(Checks.keyRates(child, "k") == ((2.0 / 6, 2.0 / 6)))
    assert(Checks.orphanRate(child, "fk", parent, "pk") == 0.5)
    assert(Checks.orphanRate(empty, "fk", parent, "pk") == 0.0)
  }

  test("evaluate thresholds to PASS/FAIL") {
    assert(Checks.evaluate("c", "t", 0.005, 0.01).status == "PASS")
    assert(Checks.evaluate("c", "t", 0.02, 0.01).status == "FAIL")
  }

  test("ledger has the reference 6-column format") {
    val df = Checks.ledger(spark, Seq(Checks.evaluate("c", "t", 0.0, 0.0)))
    assert(df.columns.toSeq == Seq("check_name", "table_name", "metric_value",
      "threshold", "status", "details"))
  }
}
