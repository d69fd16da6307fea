package graft

import java.nio.file.{Files, Paths}

import graft.util.PartitionedParquet
import org.apache.spark.sql.functions._

class PartitionedParquetSpec extends GraftSuite {

  private val modeKey = "spark.sql.sources.partitionOverwriteMode"

  private def tmp(): String = SparkEntry.tmpDir("graft_pp_")

  private def rows(dir: String, partCol: String): Set[(Long, String)] =
    PartitionedParquet.readPartitioned(spark, dir, partCol)
      .select(col(partCol), col("v")).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet

  test("scopedOverwrite replaces only the partitions it writes and leaves " +
      "siblings and the session conf alone") {
    val sparkSession = spark
    import sparkSession.implicits._
    val dir = tmp() + "/t"
    val before = spark.conf.get(modeKey)
    PartitionedParquet.scopedOverwrite(
      Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("p", "v"), "p").parquet(dir)
    PartitionedParquet.scopedOverwrite(Seq((2L, "b2")).toDF("p", "v"), "p")
      .parquet(dir)
    assert(rows(dir, "p") == Set((1L, "a"), (2L, "b2"), (3L, "c")))
    assert(PartitionedParquet.partitionIds(spark, dir, "p").sorted == Seq(1L, 2L, 3L))
    assert(spark.conf.get(modeKey) == before)
  }

  test("writeEpoch: an epoch-0 write replaces the whole table, appended " +
      "epochs included, even in a session left in dynamic mode") {
    val sparkSession = spark
    import sparkSession.implicits._
    val dir = tmp() + "/idx"
    def epoch(e: Long, vs: String*) = PartitionedParquet.writeEpoch(
      vs.map(v => (v.length.toLong, v)).toDF("l", "v"), dir, e, Some("l"))
    epoch(0L, "a", "bb")
    epoch(1L, "ccc")
    epoch(1L, "ddd") // a retried append replaces its own epoch
    assert(rows(dir, "epoch") == Set((0L, "a"), (0L, "bb"), (1L, "ddd")))
    val before = spark.conf.get(modeKey)
    spark.conf.set(modeKey, "dynamic")
    try epoch(0L, "e")
    finally spark.conf.set(modeKey, before)
    assert(rows(dir, "epoch") == Set((0L, "e")))
    assert(PartitionedParquet.partitionIds(spark, dir, "epoch") == Seq(0L))
  }

  test("hasData is false for a missing dir and for one whose subdirs hold " +
      "no visible parquet file") {
    val sparkSession = spark
    import sparkSession.implicits._
    val dir = tmp()
    assert(!PartitionedParquet.hasData(spark, s"$dir/missing"))
    Files.createDirectories(Paths.get(s"$dir/t/p=1"))
    Files.createFile(Paths.get(s"$dir/t/p=1/notes.txt"))
    Files.createDirectories(Paths.get(s"$dir/t/_temporary/0"))
    Files.createFile(Paths.get(s"$dir/t/_temporary/0/part-0.parquet"))
    assert(!PartitionedParquet.hasData(spark, s"$dir/t"))
    PartitionedParquet.scopedOverwrite(Seq((2L, "x")).toDF("p", "v"), "p")
      .parquet(s"$dir/t")
    assert(PartitionedParquet.hasData(spark, s"$dir/t"))
  }
}
