package graft

import graft.operators.Skew
import org.apache.spark.sql.functions._

/** Explicit scale techniques (SURVEY §4): salted aggregation equivalence,
  * bucketed co-located joins (shuffle-free), as-of and banded range joins,
  * and the JSON artifact round-trips (F8, §3.3). */
class ScaleTechniquesSpec extends GraftSuite {
  import spark.implicits._

  test("salted two-phase agg == direct groupBy on a skewed corpus") {
    // 90% of rows on one hot key
    val rows = (0 until 20000).map { i =>
      val key = if (i % 10 == 0) s"k${i % 7}" else "hot"
      (i.toLong, key, (i % 100) / 7.0)
    }
    val df = rows.toDF("id", "key", "v")
    val salted = Skew.saltedCountSum(df, Seq("key"), "id", "v", nSalts = 16)
      .select($"key", $"n", round($"sum_v", 6).as("s"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
    val direct = df.groupBy("key")
      .agg(count(lit(1)).as("n"), round(sum($"v"), 6).as("s"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
    assert(salted == direct)
    // the partial phase really fans the hot key out across salts
    val partials = df.withColumn("_salt", Skew.saltCol($"id", 16))
      .filter($"key" === "hot").select($"_salt").distinct().count()
    assert(partials >= 12, s"hot key only reached $partials of 16 salts")
  }

  test("bucketed tables join without a shuffle exchange") {
    // default warehouse dir (static conf); tables dropped in finally,
    // spark-warehouse/ + metastore are gitignored
    val n = 10000
    spark.range(n).select($"id".as("k"), ($"id" % 97).as("a"))
      .write.mode("overwrite").bucketBy(8, "k").sortBy("k")
      .saveAsTable("bucketed_a")
    spark.range(n).select($"id".as("k"), ($"id" % 31).as("b"))
      .write.mode("overwrite").bucketBy(8, "k").sortBy("k")
      .saveAsTable("bucketed_b")
    // disable auto-broadcast: the co-location claim is about the GENERAL
    // shuffle join (broadcast would trivially avoid the shuffle for small n)
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10485760")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val joined = spark.table("bucketed_a").join(spark.table("bucketed_b"), "k")
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange hashpartitioning"),
        s"bucketed join must be shuffle-free:\n$plan")
      assert(joined.count() == n)
      // same join on unbucketed data DOES shuffle — the comparison point
      val ua = spark.range(n).select($"id".as("k"), ($"id" % 97).as("a"))
      val ub = spark.range(n).select($"id".as("k"), ($"id" % 31).as("b"))
      val uplan = ua.join(ub, "k").queryExecution.executedPlan.toString
      assert(uplan.contains("Exchange hashpartitioning"))
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
      spark.sql("DROP TABLE IF EXISTS bucketed_a")
      spark.sql("DROP TABLE IF EXISTS bucketed_b")
    }
  }

  test("§3.3 export: nested JSON hierarchy round-trips and matches the per-conv aggregate") {
    import graft.operators.{Aggregation, Export}
    import org.apache.spark.sql.types._
    val cfg = Pipeline.Config(nConvs = 8, nBase = 48)
    val (turns, gaz, gazDf) = Pipeline.synthetic(spark, cfg)
    val l = Pipeline.linked(turns, gaz, gazDf)
    val convAgg = Aggregation.perConv(Aggregation.perTurn(l)).cache()
    val json = Export.conceptJson(convAgg)
    assert(json.count() == convAgg.select("conv_id").distinct().count())
    // parse the JSON back: one entity per aggregate row, fields intact
    val entSchema = StructType(Seq(StructField("entities", ArrayType(StructType(Seq(
      StructField("source", StringType), StructField("code", StringType),
      StructField("code_name", StringType), StructField("text", StringType),
      StructField("icd10cm", StructType(Seq(StructField("code", StringType),
        StructField("name", StringType)))),
      StructField("unique", IntegerType), StructField("confidence", DoubleType),
      StructField("count", IntegerType), StructField("correctness", BooleanType),
      StructField("insurance_related", BooleanType), StructField("remark", StringType)))))))
    val parsed = json.select(col("conv_id"),
      explode(from_json(col("json"), entSchema).getField("entities")).as("e"))
    val a = parsed.select(col("conv_id"), col("e.source"), col("e.code"),
        col("e.count"), col("e.icd10cm.code"))
      .collect().map(_.toString).sorted.toSeq
    val b = convAgg.select(col("conv_id"), col("source"), col("code"),
        col("total_count").cast("int"), coalesce(col("icd10_code"), lit("N/A")))
      .collect().map(_.toString).sorted.toSeq
    assert(a == b && a.nonEmpty)
    // the review defaults are pinned as the reference writes them
    val defaults = parsed.select("e.correctness", "e.insurance_related", "e.remark")
      .distinct().collect()
    assert(defaults.map(_.toString).toSet == Set("[true,false,]"))
    // S5 ndjson bulk sink: one JSON doc per line, parseable on read-back
    val dir = SparkEntry.tmpDir("ndjson")
    json.select("json").write.mode("overwrite").text(dir)
    val lines = spark.read.text(dir)
    assert(lines.count() == json.count())
    assert(lines.select(from_json(col("value"), entSchema).as("t"))
      .filter(col("t").isNull).count() == 0) // every line parses
    convAgg.unpersist()
  }

  test("asOf join == naive maximal at-or-before lookup (incl. equal-ts and no-match)") {
    import graft.operators.AsOfJoin
    val rnd = new scala.util.Random(11)
    // random left/right rows over few keys; ts collisions guaranteed
    val right = (0 until 60).map(i => (s"k${rnd.nextInt(4)}", rnd.nextInt(40).toLong, i))
      .distinct.toDF("key", "ts", "rid")
    val left = (0 until 120).map(i => (s"k${rnd.nextInt(6)}", rnd.nextInt(50).toLong, i))
      .toDF("key", "ts", "lid")
    val got = AsOfJoin.asOf(left, right, Seq("key"), "ts")
      .select(col("lid"), col("asof.rid").as("rid"))
      .collect().map(r => r.getInt(0) -> (if (r.isNullAt(1)) None else Some(r.getInt(1))))
      .toMap
    // naive: per left row, the right row with max (ts, rid) among ts <= l.ts
    val rightRows = right.collect().map(r => (r.getString(0), r.getLong(1), r.getInt(2)))
    left.collect().foreach { l =>
      val (k, ts, lid) = (l.getString(0), l.getLong(1), l.getInt(2))
      val cand = rightRows.filter(r => r._1 == k && r._2 <= ts)
      val want = if (cand.isEmpty) None
        else Some(cand.maxBy(r => (r._2, r._3))._3)
      assert(got(lid) == want, s"left $lid key $k ts $ts")
    }
    // exactly one output row per left row (never duplicates, never drops)
    assert(got.size == 120)
  }

  test("asOf drops null-ts right rows (documented contract enforced)") {
    import graft.operators.AsOfJoin
    import java.sql.Timestamp
    val left = Seq(("u1", Timestamp.valueOf("2024-01-01 00:00:10"), "click"))
      .toDF("user_id", "ts", "ev")
    val right = Seq(
      ("u1", None: Option[Timestamp], "phantom"),
      ("u1", Some(Timestamp.valueOf("2024-01-01 00:00:05")), "real"))
      .toDF("user_id", "ts", "payload")
    val out = AsOfJoin.asOf(left, right, Seq("user_id"), "ts")
      .select($"asof.payload").as[String].collect().toSeq
    assert(out == Seq("real"))
    // ONLY a null-ts right row: no match at all, not a phantom carry-forward
    val onlyNull = right.filter($"payload" === "phantom")
    val none = AsOfJoin.asOf(left, onlyNull, Seq("user_id"), "ts")
      .select($"asof").collect()
    assert(none.length == 1 && none.head.isNullAt(0))
  }

  test("banded range join == naive all-pairs overlap; band width doesn't change results") {
    import graft.operators.RangeJoin
    val rnd = new scala.util.Random(13)
    val rows = (0 until 150).map { i =>
      val s = rnd.nextDouble() * 100
      (s"k${rnd.nextInt(3)}", i, s, s + rnd.nextDouble() * 12)
    }
    val df = rows.toDF("key", "id", "start", "end")
    def run(w: Double) = RangeJoin.overlapPairs(df, Seq("key"), "id", "start", "end", w)
      .select("id_a", "id_b").collect().map(r => (r.getInt(0), r.getInt(1))).toSet
    val naive = (for {
      a <- rows; b <- rows
      if a._1 == b._1 && a._2 < b._2 && a._3 < b._4 && b._3 < a._4
    } yield (a._2, b._2)).toSet
    assert(run(5.0) == naive && naive.nonEmpty)
    // band width is a performance knob, not a semantics knob
    assert(run(0.7) == naive && run(40.0) == naive)
  }

  test("canonical-band overlapPairs emits each overlapping pair exactly once") {
    import graft.operators.RangeJoin
    val rnd = new scala.util.Random(7)
    val rows = (0 until 200).map { i =>
      val s = rnd.nextDouble() * 50
      (s"k${rnd.nextInt(2)}", i, s, s + rnd.nextDouble() * 8)
    }
    val df = rows.toDF("key", "id", "start", "end")
    val got = RangeJoin.overlapPairs(df, Seq("key"), "id", "start", "end", 3.0)
      .select("id_a", "id_b").collect().map(r => (r.getInt(0), r.getInt(1)))
    val naive = (for {
      a <- rows; b <- rows
      if a._1 == b._1 && a._2 < b._2 && a._3 < b._4 && b._3 < a._4
    } yield (a._2, b._2))
    // set equality AND multiplicity 1 (the distinct() was removed — the
    // canonical band must make each pair unique by construction)
    assert(got.toSet == naive.toSet && naive.nonEmpty)
    assert(got.length == got.toSet.size, "a pair was emitted more than once")
  }

  test("F8: triple qualifiers round-trip through to_json/from_json") {
    val cfg = Pipeline.Config(nConvs = 8, nBase = 48)
    val triples = Pipeline.triples(spark, cfg).toDF()
    val schema = triples.schema
    val asJson = triples.select(to_json(struct(col("*"))).as("j"))
    val back = asJson.select(from_json($"j", schema).as("t")).select("t.*")
    val a = triples.collect().map(_.toString).sorted
    val b = back.collect().map(_.toString).sorted
    assert(a.sameElements(b))
  }
}
