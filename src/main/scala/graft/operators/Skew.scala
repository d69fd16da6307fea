package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Explicit skew-handling primitives (SURVEY.md §4 "skew handling";
  * north rule "skew from mega-conversations handled via salting + AQE
  * skew-join hints"). AQE's runtime skew-join split handles JOIN skew;
  * these handle AGGREGATION and CO-GROUP skew, where one hot key would
  * otherwise pin a single reducer:
  *
  *  - [[saltedAgg]]: classic two-phase aggregation — partial aggregate on
  *    (key, salt) fans the hot key across `nSalts` reducers, final
  *    aggregate merges the partials. Identical result to the direct
  *    groupBy for any algebraic (associative+commutative) aggregate.
  *  - [[saltCol]]: deterministic salt from an existing high-cardinality
  *    column (never rand() — re-runs must be idempotent, SURVEY §7.4).
  */
object Skew {

  /** Deterministic salt in [0, nSalts) from a unique-ish column. */
  def saltCol(unique: Column, nSalts: Int): Column =
    pmod(xxhash64(unique), lit(nSalts))

  /** Two-phase salted aggregation.
    *
    * @param partial aggregates computed per (keys..., salt) — must be
    *                algebraic, aliased to the names `merge` consumes
    * @param merge   final merge per keys (e.g. sum of partial counts)
    */
  def saltedAgg(df: DataFrame, keys: Seq[String], salt: Column, nSalts: Int)(
      partial: Seq[Column], merge: Seq[Column]): DataFrame = {
    val withSalt = df.withColumn("_salt", saltCol(salt, nSalts))
    val partialAgg = withSalt
      .groupBy((keys.map(col) :+ col("_salt")): _*)
      .agg(partial.head, partial.tail: _*)
    partialAgg.groupBy(keys.map(col): _*).agg(merge.head, merge.tail: _*)
  }

  /** Salted count+sum, the common case: equivalent to
    * `df.groupBy(keys).agg(count(*), sum(valueCol))` with the hot keys
    * spread over `nSalts` partial reducers. */
  def saltedCountSum(df: DataFrame, keys: Seq[String], saltSource: String,
      valueCol: String, nSalts: Int = 16): DataFrame =
    saltedAgg(df, keys, col(saltSource), nSalts)(
      Seq(count(lit(1)).as("_cnt"), sum(col(valueCol)).as("_sum")),
      Seq(sum(col("_cnt")).as("n"), sum(col("_sum")).as("sum_v")))
}
