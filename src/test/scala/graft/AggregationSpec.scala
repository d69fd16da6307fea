package graft

import graft.operators.Aggregation
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** The `countDistinct` reference form of per-turn round support: the plain
  * distinct aggregate that `Aggregation.roundSupport`'s bitmask must equal.
  * No main code uses it. */
object RoundSupportReference {
  def perTurn(mentions: DataFrame): DataFrame =
    mentions.groupBy(col("conv_id"), col("turn_idx"), col("source"), col("code"))
      .agg(count(lit(1)).as("total_count"),
        countDistinct(col("try_index")).as("unique_count"))
      .withColumn("confidence",
        col("unique_count") / lit(Aggregation.Rounds.toDouble))
}

class AggregationSpec extends GraftSuite {

  private val cols = Seq("conv_id", "turn_idx", "try_index", "start", "source",
    "code", "cui", "concept_name", "surface", "icd10_code", "icd10_name")

  /** Linked-mention rows: one per (group, round, duplicate). */
  private def mentions(rows: Seq[(String, Int, Int, Int, String)]): DataFrame = {
    val spark2 = spark
    import spark2.implicits._
    rows.map { case (conv, turn, round, start, code) =>
      (conv, turn, round, start, "SRC", code, "C" + code, "name" + code,
        "surf" + start, "I" + code, "icd" + code)
    }.toDF(cols: _*)
  }

  test("unique_count and confidence equal the countDistinct reference on " +
      "every non-empty round subset, with duplicate rounds") {
    val rng = new scala.util.Random(7)
    val subsets = (1 until (1 << Aggregation.Rounds)).map { m =>
      (0 until Aggregation.Rounds).filter(r => (m >> r & 1) == 1)
    }
    // 210 groups: each of the 7 subsets 30 times, each round 1-3 rows
    val rows = (0 until 210).flatMap { g =>
      val conv = s"c${g % 11}"
      subsets(g % subsets.size).flatMap { r =>
        Seq.fill(1 + rng.nextInt(3))(
          (conv, g / 11, r, rng.nextInt(500), s"K${g % 5}"))
      }
    }
    // shuffled over several partitions so partial masks merge across tasks
    val df = mentions(rng.shuffle(rows)).repartition(7)
    def key(df: DataFrame) = df
      .select("conv_id", "turn_idx", "source", "code", "total_count",
        "unique_count", "confidence")
      .collect().map(_.toSeq).toSet
    val got = key(Aggregation.perTurn(df))
    assert(got === key(RoundSupportReference.perTurn(df)))
    assert(got.size === 210)
    assert(got.map(_(5)) === (1 to Aggregation.Rounds).map(_.toLong).toSet)
  }

  test("unique_count is bigint on the per-turn and per-conv aggregates") {
    val turnAgg = Aggregation.perTurn(mentions(Seq(("c", 0, 0, 0, "K"))))
    assert(turnAgg.schema("unique_count").dataType === LongType)
    assert(Aggregation.perConv(turnAgg).schema("unique_count").dataType === LongType)
  }

  test("a round outside [0, Rounds) fails the aggregate instead of " +
      "counting past Rounds or aliasing a round") {
    for (bad <- Seq(Aggregation.Rounds, -1)) {
      val df = mentions(Seq(("c", 0, 0, 0, "K"), ("c", 0, bad, 1, "K")))
      val e = intercept[Exception](Aggregation.perTurn(df).collect())
      val msgs = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .map(t => String.valueOf(t.getMessage))
      assert(msgs.exists(_.contains("try_index outside")), e)
    }
  }

  test("the flagship plan has no distinct aggregate and exactly one " +
      "(conv_id, turn_idx, source, code) shuffle under perTurn") {
    import org.apache.spark.sql.catalyst.expressions.Attribute
    import org.apache.spark.sql.catalyst.expressions.aggregate.AggregateExpression
    import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val cfg = Pipeline.Config(nConvs = 15, nBase = 48)
    val aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val qe = Pipeline.triples(spark, cfg).queryExecution
      val distinct = qe.optimizedPlan.flatMap(_.expressions.flatMap(_.collect {
        case a: AggregateExpression if a.isDistinct => a
      }))
      assert(distinct.isEmpty, qe.optimizedPlan.treeString)
      // every real (non-reused) shuffle keyed by at least the perTurn keys:
      // a distinct aggregate would add one keyed by those plus try_index
      val keys = Seq("conv_id", "turn_idx", "source", "code")
      val perTurn = qe.executedPlan.collect {
        case s: ShuffleExchangeExec => s.outputPartitioning
      }.collect { case h: HashPartitioning =>
        h.expressions.collect { case a: Attribute => a.name }
      }.filter(names => keys.forall(names.contains))
      assert(perTurn === Seq(keys), qe.executedPlan.treeString)
    } finally spark.conf.set("spark.sql.adaptive.enabled", aqe)
  }
}
