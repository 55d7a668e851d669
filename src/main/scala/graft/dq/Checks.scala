package graft.dq

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** One evaluated data-quality check (reference D5 ledger row format,
  * `/root/reference/README_CANDIDATO.md:72-83`, `src/pipeline.py:248-251`).
  */
final case class DqResult(
    check_name: String,
    table_name: String,
    metric_value: Double,
    threshold: Double,
    status: String,
    details: String)

/** A foreign key of a checked table: every `fk` value must match a `pk`
  * value of `parent`.
  */
final case class ForeignKey(fk: String, parent: DataFrame, pk: String)

/** What to check on one table: null and duplicate rate of `key`, orphan
  * rate of `ref`. Either may be absent.
  */
final case class TableChecks(
    df: DataFrame,
    key: Option[String] = None,
    ref: Option[ForeignKey] = None)

/** The counts behind one table's rates: `n` rows; `nulls` and `uniq`
  * (distinct non-null values) of the checked key; `orphans`, the rows whose
  * FK is null or has no parent key. Counts of an absent check are 0.
  */
final case class KeyCounts(n: Long, nulls: Long, uniq: Long, orphans: Long) {
  def nullRate: Double = rate(nulls)

  /** The reference formula (pipeline.py:214-216) is
    * (count - select(key).distinct().count()) / count, and DataFrame
    * distinct() counts NULL as ONE distinct value, unlike COUNT(DISTINCT),
    * which `uniq` comes from: the null group is added back when present.
    */
  def dupRate: Double = rate(n - uniq - (if (nulls > 0L) 1L else 0L))

  def orphanRate: Double = rate(orphans)

  /** An empty table has rate 0.0. */
  private def rate(k: Long): Double = if (n == 0L) 0.0 else k.toDouble / n
}

/** Threshold-based data-quality checks (reference D2-D4,
  * `/root/reference/src/pipeline.py:189-253`; thresholds
  * `submission_Amadeu/metadata.json:17-21`).
  *
  * Design difference vs the reference (SURVEY.md §7.3): the reference runs 6+
  * separate `count()` jobs and computes rates in driver Python; here every
  * checked table becomes ONE lazy one-row aggregate
  * (`count(*)`, null count and `count_distinct` of its key, unmatched FKs),
  * and [[counts]] collects the aggregates of all tables in ONE action, so
  * their stages are submitted together. Orphans come from a left join of the
  * key-only (column-pruned) child to the parent's distinct keys, broadcast
  * since a parent key set is a dimension-sized frame; the keys are distinct,
  * so the join never repeats a child row and the same aggregate counts `n`.
  */
object Checks {

  /** The counts of every table in `tables`, in order, from one action. */
  def counts(tables: Seq[TableChecks]): Seq[KeyCounts] = {
    val rows = tables.zipWithIndex
      .map { case (t, i) => aggregate(t).withColumn("__t", lit(i)) }
      .reduce(_ unionByName _)
      .collect() // one row per table
      .map(r => r.getInt(4) -> KeyCounts(r.getLong(0), r.getLong(1),
        r.getLong(2), r.getLong(3)))
      .toMap
    tables.indices.map(rows)
  }

  /** One table's lazy one-row aggregate: n, nulls, uniq, orphans. */
  private def aggregate(t: TableChecks): DataFrame = {
    val joined = t.ref.fold(t.df) { r =>
      val keys = r.parent.select(col(r.pk).as("__pk")).distinct()
        .withColumn("__hit", lit(true))
      t.df.join(broadcast(keys), col(r.fk) === col("__pk"), "left")
    }
    val zero = lit(0L)
    joined.agg(
      count(lit(1)).as("n"),
      t.key.fold(zero)(k => count(when(col(k).isNull, lit(1)))).as("nulls"),
      t.key.fold(zero)(k => countDistinct(col(k))).as("uniq"),
      t.ref.fold(zero)(_ => count(when(col("__hit").isNull, lit(1))))
        .as("orphans"))
  }

  /** Null rate + duplicate rate of `key` in one pass. */
  def keyRates(df: DataFrame, key: String): (Double, Double) = {
    val c = counts(Seq(TableChecks(df, key = Some(key)))).head
    (c.nullRate, c.dupRate)
  }

  /** Fraction of child rows whose FK has no match in the parent PK set
    * (anti-join semantics, reference `pipeline.py:227-246`): the
    * reference's anti-join does not match nulls, so a null FK is an orphan
    * as well as a dangling one.
    */
  def orphanRate(child: DataFrame, fk: String, parent: DataFrame,
      pk: String): Double =
    counts(Seq(TableChecks(child, ref = Some(ForeignKey(fk, parent, pk)))))
      .head.orphanRate

  def evaluate(checkName: String, tableName: String, value: Double,
      threshold: Double, details: String = ""): DqResult =
    DqResult(checkName, tableName, value, threshold,
      if (value <= threshold) "PASS" else "FAIL", details)

  /** Materialize results as the 6-column ledger DataFrame (reference D5). */
  def ledger(spark: SparkSession, results: Seq[DqResult]): DataFrame = {
    import spark.implicits._
    results.toDF().select(
      "check_name", "table_name", "metric_value", "threshold", "status",
      "details")
  }
}
