package kgbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{CommandResultExec, MapPartitionsExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.aggregate.{HashAggregateExec, ObjectHashAggregateExec, SortAggregateExec}
import org.apache.spark.sql.execution.exchange.{ReusedExchangeExec, ShuffleExchangeExec}
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}

/** A span around one benchmark-side call into the program. Spans stay in
  * memory and are written once, when the run ends. */
final case class Span(id: Int, parent: Int, layer: String, startNs: Long, endNs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
}

final class Spans {
  private val done = mutable.ArrayBuffer.empty[Span]
  private var open = List(0)
  private var next = 1

  def apply[T](layer: String)(body: => T): (T, Span) = {
    val id = next; next += 1
    val parent = open.head
    open = id :: open
    val t0 = System.nanoTime()
    try {
      val r = body
      val s = Span(id, parent, layer, t0, System.nanoTime())
      done += s
      (r, s)
    } finally open = open.tail
  }

  def all: Seq[Span] = done.toSeq
}

/** Task-level totals of one job group, from a [[SparkListener]]. */
final class GroupTotals {
  var tasks = 0L
  var failedTasks = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  val stageTaskMs = mutable.HashMap.empty[Int, mutable.ArrayBuffer[Long]]

  /** max / median task time of the stage with the largest total task time. */
  def maxTaskSkew: Double =
    if (stageTaskMs.isEmpty) 0.0
    else {
      val heavy = stageTaskMs.values.maxBy(_.sum)
      val med = Stats.median(heavy.map(_.toDouble).toSeq)
      if (med <= 0) 0.0 else heavy.max / med
    }
}

/** Attributes task metrics to the job group active when the job started;
  * stream jobs are also counted per micro-batch id. */
final class Recorder extends SparkListener {
  val groups = mutable.HashMap.empty[String, GroupTotals]
  val jobsPerBatch = mutable.HashMap.empty[(String, Long), Int] // (query id, batch id)
  private val stageGroup = mutable.HashMap.empty[Int, String]

  private def totals(g: String) = groups.getOrElseUpdate(g, new GroupTotals)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val props = Option(e.properties)
    val g = props.flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
    e.stageIds.foreach(stageGroup(_) = g)
    for (p <- props; b <- Option(p.getProperty("streaming.sql.batchId"));
         q <- Option(p.getProperty("sql.streaming.queryId"))) {
      val key = (q, b.toLong)
      jobsPerBatch(key) = jobsPerBatch.getOrElse(key, 0) + 1
    }
  }

  /** SQL executions (one per Dataset action): (description, start, end), epoch ms. */
  val executions = mutable.ArrayBuffer.empty[(String, Long, Long)]
  private val execStart = mutable.HashMap.empty[Long, (String, Long)]

  override def onOtherEvent(e: SparkListenerEvent): Unit = synchronized {
    e match {
      case s: SparkListenerSQLExecutionStart => execStart(s.executionId) = (s.description, s.time)
      case x: SparkListenerSQLExecutionEnd =>
        execStart.remove(x.executionId).foreach { case (d, t0) => executions += ((d, t0, x.time)) }
      case _ =>
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val t = totals(stageGroup.getOrElse(e.stageId, ""))
    t.tasks += 1
    if (!e.taskInfo.successful) t.failedTasks += 1
    val m = e.taskMetrics
    if (m != null) {
      t.cpuNs += m.executorCpuTime
      t.gcMs += m.jvmGCTime
      t.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      t.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      t.stageTaskMs.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) += e.taskInfo.duration
    }
  }

  def group(g: String): GroupTotals = synchronized(groups.getOrElse(g, new GroupTotals))
}

/** Operator counts of a final (post-AQE) physical plan. */
final case class PlanShape(shuffleExchanges: Int, reusedExchanges: Int,
    sortAggs: Int, hashAggs: Int, extractionPasses: Int)

object PlanShape {
  def of(plan: SparkPlan): PlanShape = {
    val nodes = mutable.ArrayBuffer.empty[SparkPlan]
    def walk(p: SparkPlan): Unit = p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case q: QueryStageExec => walk(q.plan)
      case c: CommandResultExec => walk(c.commandPhysicalPlan)
      case r: ReusedExchangeExec => nodes += r
      case other =>
        nodes += other
        other.children.foreach(walk)
        other.subqueries.foreach(walk)
    }
    walk(plan)
    PlanShape(
      nodes.count(_.isInstanceOf[ShuffleExchangeExec]),
      nodes.count(_.isInstanceOf[ReusedExchangeExec]),
      nodes.count(_.isInstanceOf[SortAggregateExec]),
      nodes.count(n => n.isInstanceOf[HashAggregateExec] || n.isInstanceOf[ObjectHashAggregateExec]),
      // the extractor is the chain's only mapPartitions
      nodes.count(_.isInstanceOf[MapPartitionsExec]))
  }
}
