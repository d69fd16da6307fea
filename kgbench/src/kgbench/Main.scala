package kgbench

import java.nio.file.{Files, Paths}

import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession
import org.json4s.DefaultFormats
import org.json4s.jackson.Serialization

/** JVM entry of the benchmark: one workload, one session at local[N].
  *
  * {{{
  * kgbench.Main --workload NAME --seed N --seconds S --trace 0|1 --work DIR
  *              --t0-ns NANOS [--golden KEY=COUNT:CHECKSUM ...]
  * kgbench.Main --selftest --work DIR
  * }}}
  *
  * Prints one `KGBENCH_RESULT {json}` line; `run.py` turns it into the
  * result line `BENCHMARK.json` describes. */
object Main {

  private def json(v: AnyRef): String = Serialization.write(v)(DefaultFormats)

  def session(cores: Int, work: String): SparkSession = {
    val s = SparkSession.builder()
      .appName("kgbench")
      .master(s"local[$cores]")
      .withExtensions(new graft.functions.GraftExtensions)
      .config("spark.sql.shuffle.partitions", cores.toLong)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.shuffle.sort.bypassMergeThreshold", "1")
      .config("spark.shuffle.file.buffer", "256k")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.hadoop.hadoop.tmp.dir", s"$work/hadoop")
      .config("spark.sql.streaming.numRecentProgressUpdates", "1000")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def main(args: Array[String]): Unit = {
    val opts = args.sliding(2, 2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }
      .toSeq
    val o = opts.toMap
    val work = o("work")
    Files.createDirectories(Paths.get(work))
    val cores = sys.env.get("SPARK_GRAFT_CPUS").flatMap(_.toIntOption).filter(_ > 0)
      .getOrElse(Runtime.getRuntime.availableProcessors())
    if (args.contains("--selftest")) {
      val spark = session(math.min(cores, 2), work)
      val ok = try SelfTest.run(spark) finally spark.stop()
      sys.exit(if (ok) 0 else 1)
    }
    val workload = o("workload")
    require(Workloads.names.contains(workload), s"unknown workload $workload")
    val golden = opts.filter(_._1 == "golden").map { case (_, v) =>
      val Array(k, cnt, sum) = v.split("[=:]")
      k -> (cnt.toLong, sum.toLong)
    }.toMap
    val load0 = Host.loadavg1()
    val tenants0 = Host.coTenantJvms()
    val spark = session(cores, work)
    val sessionS = (System.nanoTime() - o("t0-ns").toLong) / 1e9
    val run = new Run(spark, o("seed").toLong, o("seconds").toDouble, o("trace") == "1",
      work, cores, o("t0-ns").toLong, sessionS, golden)
    run.report("session_ready_s") = sessionS
    val crashed = try { Workloads.run(run, workload); None } catch {
      case NonFatal(e) =>
        run.attempted += 1; run.failed += 1
        System.err.println(s"[kgbench] workload aborted: $e")
        e.printStackTrace()
        Some(e.toString)
    }
    val host = Host.fingerprint(cores, spark.version) ++ Map(
      "loadavg_1m" -> Seq(load0, Host.loadavg1()),
      "co_tenant_jvms" -> Seq(tenants0, Host.coTenantJvms()))
    val spansFile = s"$work/../spans-$workload-${run.seed}-trace${if (run.trace) 1 else 0}.json"
    Files.write(Paths.get(spansFile), json(run.spans.all.map(s => Map("id" -> s.id,
      "parent" -> s.parent, "layer" -> s.layer, "start_ns" -> s.startNs, "end_ns" -> s.endNs)))
      .getBytes("UTF-8"))
    val correct = crashed.isEmpty && run.failed == 0 && run.checks.values.forall(identity)
    println("KGBENCH_RESULT " + json(Map(
      "workload" -> workload, "seed" -> run.seed, "trace" -> run.trace,
      "correct" -> correct, "attempted" -> run.attempted, "failed" -> run.failed,
      "end_to_end" -> run.e2e, "per_layer" -> run.layer, "checks" -> run.checks,
      "report" -> run.report, "host" -> host, "error" -> crashed)))
    spark.stop()
  }
}
