package kgbench

import graft.sources.Gazetteer
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The benchmark's own tests: seeded generators are deterministic, the
  * percentile rule holds, and prefix differences keep their sign. */
object SelfTest {

  private def tableChecksum(df: DataFrame): (Long, Long) = {
    val r = df.select(xxhash64(df.columns.map(col).toSeq: _*).as("h"))
      .agg(count(lit(1)), sum(col("h").bitwiseAND(0xFFFFFFFFL))).head()
    (r.getLong(0), r.getLong(1))
  }

  def run(spark: SparkSession): Boolean = {
    var ok = true
    def expect(name: String, cond: Boolean): Unit = {
      println(s"${if (cond) "ok  " else "FAIL"} $name")
      ok &&= cond
    }

    // generators: same seed, same table (at any parallelism); other seed, other table
    val gaz = Gen.bigGazetteer(1L, 500, 300)
    val shapes: Seq[(String, Gen.Text)] = Seq(
      "sparse" -> Gen.Sparse(Gen.aliases(gaz), 300, 100),
      "dense" -> Gen.Dense(Gazetteer.plantableSurfaces(32).take(32).toArray, 8, Workloads.fillers),
      "default" -> Gen.Default(Gazetteer.plantableSurfaces(32).toArray, Workloads.fillers))
    shapes.foreach { case (name, shape) =>
      def table(seed: Long, parts: Int) =
        tableChecksum(Gen.turns(spark, seed, Gen.convSizes(seed, 300, 2, 40, 0.05), shape, parts))
      val a = table(7L, 2)
      expect(s"generator $name: same seed, same table", a == table(7L, 5))
      expect(s"generator $name: other seed, other table", a != table(8L, 2))
    }
    val docs = Gen.Docs(200, 100, 300)
    def docTable(seed: Long) = tableChecksum(docs.frame(spark, seed, 0, 300, 3))
    expect("generator docs: same seed, same table", docTable(7L) == docTable(7L))
    expect("generator docs: other seed, other table", docTable(7L) != docTable(8L))
    expect("generator gazetteer: deterministic per seed",
      Gen.bigGazetteer(3L, 200, 100).toSeq == Gen.bigGazetteer(3L, 200, 100).toSeq &&
        Gen.bigGazetteer(3L, 200, 100).toSeq != Gen.bigGazetteer(4L, 200, 100).toSeq)
    expect("convSizes: sums to the requested turns, mega first",
      Gen.convSizes(5L, 1000, 2, 40, 0.05).sum == 1000 && Gen.convSizes(5L, 1000, 2, 40, 0.05).head == 50)

    // percentile rule: the tail percentile leaves at least ten samples beyond it
    val forty = (1 to 40).map(_.toDouble)
    expect("p75 of 40 samples has 10 beyond", Stats.percentile(forty, 75) == 30.0 &&
      Stats.beyond(forty, 75) == 10)
    expect("tail percentile of 40 samples is p75", Stats.tailPercentile(forty).contains(75.0))
    expect("tail percentile of 39 samples falls to p50",
      Stats.tailPercentile(forty.take(39)).contains(50.0))
    expect("tail percentile of 19 samples does not exist", Stats.tailPercentile(forty.take(19)).isEmpty)
    expect("median", Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0 && Stats.median(Seq(4.0, 1.0, 2.0, 3.0)) == 2.5)

    // prefix differences: kept as measured, negatives flagged, never clamped
    val d = Stats.prefixDiffs(Seq("scan" -> 1.0, "seg" -> 3.0, "ext" -> 2.5))
    expect("prefix differences", d.map(_.selfS) == Seq(1.0, 2.0, -0.5))
    expect("negative difference flagged", d.map(_.negative) == Seq(false, false, true))

    // near-duplicate chains: a ≈ b ≈ c with a ≉ c, by 3-shingle Jaccard
    def jac(x: Array[String], y: Array[String]): Double = {
      def sh(w: Array[String]) = w.sliding(3).map(_.mkString(" ")).toSet
      val (a, b) = (sh(x), sh(y))
      (a & b).size.toDouble / (a | b).size
    }
    val chains = (200L until 300L).flatMap { id =>
      val w = docs.words(7L, id)
      (200L until id).filter(p => jac(docs.words(7L, p), w) >= 0.5).map(p => (p, id))
    }
    val chainFound = chains.exists { case (a, b) =>
      chains.exists { case (b2, c) => b2 == b && jac(docs.words(7L, a), docs.words(7L, c)) < 0.5 }
    }
    expect("docs generator plants cross-doc chains a≈b≈c, a≉c", chainFound)
    ok
  }
}
