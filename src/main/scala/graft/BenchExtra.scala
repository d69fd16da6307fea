package graft

import java.util.concurrent.ConcurrentLinkedQueue

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession

/** Extra benchmark harness for optimization work (guide §1: measure first,
  * isolate, re-measure). NOT the driver contract — [[Bench]] stays the
  * official surface; this main takes per-query timings, flagship-DAG
  * timings and `.explain("formatted")` plans quickly under the bench's
  * session configuration ([[Sessions.local]] at [[Sessions.hostCores]])
  * without paying the ~45-minute scaling blocks. Every timed unit is
  * followed by its per-stage profile (wall, executor run/CPU/GC time,
  * shuffle read/write).
  *
  * Usage (sf dir from `SPARK_GRAFT_SF_DIR`, default sf0.1):
  *   sbt "runMain graft.BenchExtra [reps] [query ...]"   — time queries
  *   sbt "runMain graft.BenchExtra kg [mult] [reps]"     — time Pipeline.triples
  *   sbt "runMain graft.BenchExtra explain [query ...]"  — plans
  * Query defaults: reps=2, all queries except Bench's oracle-only
  * baselines ([[Bench.oracleOnly]]). In timing mode
  * only the last rep's stages are printed.
  */
object BenchExtra {

  /** Buffers one line per completed stage until [[flush]]. */
  private final class StageProfile extends SparkListener {
    private val lines = new ConcurrentLinkedQueue[String]()
    override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
      val si = sc.stageInfo
      val m = si.taskMetrics
      val wall = (for { t0 <- si.submissionTime; t1 <- si.completionTime }
        yield (t1 - t0) / 1e3).getOrElse(-1.0)
      lines.add(f"  stage ${si.stageId}%4d tasks=${si.numTasks}%4d " +
        f"wall=$wall%7.2f run=${m.executorRunTime / 1e3}%8.2f " +
        f"cpu=${m.executorCpuTime / 1e9}%8.2f gc=${m.jvmGCTime / 1e3}%6.2f " +
        f"shR=${m.shuffleReadMetrics.totalBytesRead / 1e6}%8.1fMB " +
        f"shW=${m.shuffleWriteMetrics.bytesWritten / 1e6}%8.1fMB " +
        si.name.takeWhile(_ != '\n').take(60))
    }
    def clear(): Unit = lines.clear()
    /** Prints and clears the buffered lines. The listener bus is
      * asynchronous, so give the last stage events a moment to land. */
    def flush(): Unit = {
      Thread.sleep(300)
      lines.forEach(l => println(l))
      lines.clear()
    }
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val s = Sessions.local(Sessions.hostCores)
    val stages = new StageProfile
    s.sparkContext.addSparkListener(stages)
    try args.toSeq match {
      case "kg" +: rest => kg(s, sfDir, stages, rest.map(_.toInt))
      case "explain" +: names => explain(s, sfDir, stages, queryNames(names))
      case rest =>
        val reps = rest.headOption.flatMap(_.toIntOption)
        time(s, sfDir, stages, reps.getOrElse(2),
          queryNames(rest.drop(reps.size)))
    } finally s.stop()
  }

  private def queryNames(args: Seq[String]): Seq[String] =
    if (args.nonEmpty) args
    else SparkEntry.queries.keys.toSeq.sorted.filterNot(Bench.oracleOnly.contains)

  /** The scaling-block DAG (Pipeline.triples at mult× the sf corpus — what
    * Bench's kgRun measures) outside the 45-minute protocol. */
  private def kg(s: SparkSession, sfDir: String, stages: StageProfile,
      args: Seq[Int]): Unit = {
    val mult = args.lift(0).getOrElse(64)
    val reps = args.lift(1).getOrElse(2)
    val base = SparkEntry.cfgOf(sfDir)
    val cfg = base.copy(nConvs = base.nConvs * mult)
    (1 to reps).foreach { r =>
      stages.clear()
      s.sparkContext.setJobDescription(s"kg mult=$mult rep $r")
      val t0 = System.nanoTime()
      val n = Pipeline.triples(s, cfg).count()
      println(f"BENCHKG mult=$mult rep=$r n=$n sec=${(System.nanoTime() - t0) / 1e9}%.3f")
      stages.flush()
      Sessions.sweep(s)
    }
  }

  private def explain(s: SparkSession, sfDir: String, stages: StageProfile,
      names: Seq[String]): Unit =
    names.foreach { n =>
      println(s"========== $n ==========")
      stages.clear()
      s.sparkContext.setJobDescription(s"explain:$n")
      println(SparkEntry.queries(n)(s, sfDir)
        .queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode))
      stages.flush()
      Sessions.sweep(s)
    }

  /** Best-of-`reps` per query after one warm-up query, then the total as
    * one JSON line. */
  private def time(s: SparkSession, sfDir: String, stages: StageProfile,
      reps: Int, names: Seq[String]): Unit = {
    // one warmup pass over a cheap query so JIT/codegen caches are hot
    s.sparkContext.setJobDescription("warmup")
    SparkEntry.queries("q01_agg")(s, sfDir).count()
    val results = names.map { n =>
      val times = (1 to reps).map { r =>
        if (r == reps) stages.clear() // keep only the last rep's stages
        s.sparkContext.setJobDescription(n)
        val t0 = System.nanoTime()
        SparkEntry.queries(n)(s, sfDir).count()
        val dt = (System.nanoTime() - t0) / 1e9
        Sessions.sweep(s)
        dt
      }
      println(f"BENCHX $n%-24s best=${times.min}%.3f reps=${times.map(t => f"$t%.3f").mkString(",")}")
      stages.flush()
      n -> times.min
    }
    val total = results.map(_._2).sum
    val qs = results.map { case (k, v) => "\"" + k + "\":" + f"$v%.3f" }
      .mkString("{", ",", "}")
    println(f"""{"metric":"benchx_total","value":$total%.3f,"unit":"sec","queries":$qs,"sf":"$sfDir"}""")
  }
}
