package kgbench

import java.io.File
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.util.control.NonFatal

import graft.model.GazRow
import graft.operators._
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._

/** State of one benchmark run: operation accounting, metrics, spans. */
final class Run(val spark: SparkSession, val seed: Long, val seconds: Double,
    val trace: Boolean, val work: String, val cores: Int, val t0Ns: Long, val sessionS: Double,
    val golden: Map[String, (Long, Long)]) {

  val spans = new Spans
  var attempted = 0L
  var failed = 0L
  val e2e = mutable.LinkedHashMap.empty[String, Double]
  val layer = mutable.LinkedHashMap.empty[String, Double]
  val report = mutable.LinkedHashMap.empty[String, Any]
  val checks = mutable.LinkedHashMap.empty[String, Boolean]

  def path(name: String): String = s"$work/$name"

  def sinceStart: Double = (System.nanoTime() - t0Ns) / 1e9

  def check(name: String, ok: Boolean, detail: => String): Unit = {
    attempted += 1
    if (!ok) {
      failed += 1
      System.err.println(s"[kgbench] check failed: $name: $detail")
    }
    checks(name) = checks.getOrElse(name, true) && ok
  }

  /** One operation against the program: counted, and failed on exception. */
  def op[T](name: String)(body: => T): Option[T] = {
    attempted += 1
    try Some(body)
    catch {
      case NonFatal(e) =>
        failed += 1
        System.err.println(s"[kgbench] operation failed: $name: $e")
        e.printStackTrace()
        None
    }
  }

  /** Compare a digest with the recorded golden of this (workload, seed), if any. */
  def checkGolden(key: String, d: (Long, Long)): Unit = {
    report("golden_" + key) = Map("count" -> d._1, "checksum" -> d._2)
    golden.get(key).foreach(g =>
      check(s"golden.$key", g == d, s"expected count/checksum $g, got $d"))
  }

  def rm(p: String): Unit = org.apache.commons.io.FileUtils.deleteQuietly(new File(p))
}

/** The program calls the benchmark times, and the digests it checks. */
object Chain {

  final case class Gaz(rows: Array[GazRow], bc: Broadcast[Array[GazRow]], df: DataFrame)

  /** The gazetteer as the program takes it: broadcast rows for the
    * extractor, and a table (written to parquet under `dir`) for linking. */
  def gaz(spark: SparkSession, rows: Array[GazRow], dir: String): Gaz = {
    import spark.implicits._
    rows.toSeq.toDF().write.parquet(dir)
    Gaz(rows, spark.sparkContext.broadcast(rows), spark.read.parquet(dir))
  }

  /** The KG chain through the program's public operators, layer by layer. */
  final case class Layers(turns: DataFrame, segments: DataFrame, mentions: DataFrame,
      linked: DataFrame, turnAgg: DataFrame, triples: DataFrame)

  def apply(turns: DataFrame, g: Gaz): Layers = {
    val segs = Segmentation.segments(turns)
    val m = MentionExtractor.extract(segs, g.bc).toDF()
    val l = Linking.link(m, g.df)
    val a = Aggregation.perTurn(l)
    Layers(turns, segs.toDF(), m, l, a, Triples.all(a, turns).toDF())
  }

  val tripleCols: Seq[String] = Seq("subj", "pred", "obj", "conv_id", "confidence",
    "unique_count", "total_count", "icd10_code", "icd10_name")

  /** (row count, order-independent checksum, xor of the sink's
    * xxhash64(subj, pred, obj)) of a triples table. The checksum sums the
    * low 32 bits of a hash over every column, so duplicates count. */
  def digest(triples: DataFrame): (Long, Long, Long) = {
    val r = triples
      .select(xxhash64(tripleCols.map(col): _*).as("h"),
        xxhash64(col("subj"), col("pred"), col("obj")).as("h3"))
      .agg(count(lit(1)), sum(col("h").bitwiseAND(0xFFFFFFFFL)), bit_xor(col("h3")))
      .head()
    (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1), if (r.isNullAt(2)) 0L else r.getLong(2))
  }

  /** Run `body` with its jobs in job group `group`. Only the group id is
    * set, so SQL executions keep their action call site as description. */
  def inGroup[T](spark: SparkSession, group: String)(body: => T): T = {
    spark.sparkContext.setLocalProperty("spark.jobGroup.id", group)
    try body finally spark.sparkContext.setLocalProperty("spark.jobGroup.id", null)
  }

  /** Write the frame into the `noop` sink under a job group, observing the
    * given aggregates; returns the wall seconds and the observed row. */
  def noop(spark: SparkSession, group: String, df: DataFrame,
      exprs: Seq[org.apache.spark.sql.Column]): (Double, Map[String, Any]) =
    inGroup(spark, group) {
      val obs = Observation(group)
      val t = System.nanoTime()
      df.observe(obs, exprs.head, exprs.tail: _*).write.format("noop").mode("overwrite").save()
      val wall = (System.nanoTime() - t) / 1e9
      (wall, obs.get)
    }

  /** Move each `file=N` partition of a partitioned parquet write into one
    * flat directory as `NNNNN.parquet`, stamping modification times in N
    * order so a file stream source reads them in that order. */
  def flattenByPartition(staged: String, key: String): Array[File] = {
    val dirs = new File(staged).listFiles().filter(_.getName.startsWith(key + "="))
      .sortBy(_.getName.stripPrefix(key + "=").toInt)
    val flat = new File(staged + ".flat")
    flat.mkdirs()
    dirs.map { d =>
      val parts = d.listFiles().filter(f => f.getName.endsWith(".parquet"))
      require(parts.length == 1, s"$d holds ${parts.length} parquet files")
      val n = d.getName.stripPrefix(key + "=").toInt
      val dst = new File(flat, f"$n%05d.parquet")
      Files.move(parts.head.toPath, dst.toPath)
      dst
    }
  }

  /** Copy files into a stream source directory with ascending mtimes. */
  def deliver(files: Seq[File], srcDir: String, mtimeBase: Long): Unit = {
    new File(srcDir).mkdirs()
    files.foreach { f =>
      val dst = Paths.get(srcDir, f.getName)
      Files.copy(f.toPath, dst)
      dst.toFile.setLastModified(mtimeBase + f.getName.stripSuffix(".parquet").toLong * 1000L)
    }
  }
}
