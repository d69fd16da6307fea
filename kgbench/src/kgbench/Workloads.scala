package kgbench

import java.io.File

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import graft.operators.{Dedup, GraphSink}
import graft.sources.Gazetteer
import graft.streaming.{StreamingDedup, StreamingTriples}
import kgbench.Chain.Gaz
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.QueryExecutionListener

/** The two workloads. Each sets up its seeded input outside the timed
  * region, then either runs its closed loop (one client, next call after
  * the previous returns) for the requested seconds, or makes its traced
  * run, which reports the per-layer metrics — and, alongside, measures one
  * of the two streaming operators (ingest with batch_sparse, dedup with
  * batch_dense_sink). */
object Workloads {

  val names: Seq[String] = Seq("batch_sparse", "batch_dense_sink")

  // Input sizes, fixed across seeds so seeds move content, not volume.
  val SparseTurns = 12000
  val SparseConcepts = 24000
  val SparseVocab = 9000
  val SparsePlantEvery = 1000
  val DenseTurns = 12000
  val DenseBase = 192
  val StreamTurns = 1200
  val StreamFiles = 16
  val DedupCorpus = 4000
  val DedupFiles = 3
  val DedupPerFile = 50
  val DedupVocab = 3000
  val StreamSectionLatestStartS = 125.0
  val SetUps = 3

  val fillers: Array[String] = Array(
    "patient", "was", "seen", "today", "with", "stable", "signs", "review",
    "of", "notes", "and", "plan", "for", "follow", "up", "visit", "care",
    "team", "noted", "during", "exam", "the", "results", "were", "within",
    "normal", "range", "no", "new", "issues", "found", "continue", "current")

  def run(r: Run, workload: String): Unit = workload match {
    case "batch_sparse" => batch(r, sink = false)
    case "batch_dense_sink" => batch(r, sink = true)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  private def parts(r: Run) = r.cores * 4

  private def writeTurns(r: Run, name: String, sizes: Array[Int], shape: Gen.Text): DataFrame = {
    Gen.turns(r.spark, r.seed, sizes, shape, parts(r)).write.parquet(r.path(name))
    r.spark.read.parquet(r.path(name))
  }

  /** Closed loop: run `pass` until `seconds` have elapsed (at least once).
    * Each pass returns its wall seconds and the input rows it processed. */
  private def loop(r: Run)(pass: => Option[(Double, Long)]): (Seq[Double], Long) = {
    val walls = mutable.ArrayBuffer.empty[Double]
    var rows = 0L
    val t = System.nanoTime()
    while (walls.isEmpty || (System.nanoTime() - t) / 1e9 < r.seconds)
      pass.foreach { case (w, n) => walls += w; rows += n }
    (walls.toSeq, rows)
  }

  // ------------------------------------------------------------ composition

  /** The benchmark's chain of public calls must reproduce Pipeline.triples
    * exactly on the program's own corpus, written to parquet. */
  private def compositionGuard(r: Run): Unit = {
    val cfg = graft.Pipeline.Config(nConvs = 24, nBase = 64)
    graft.Pipeline.turns(r.spark, cfg).write.parquet(r.path("guard_turns"))
    val turns = r.spark.read.parquet(r.path("guard_turns"))
    val g = Chain.gaz(r.spark, Gazetteer.rows(cfg.nBase).toArray, r.path("guard_gaz"))
    val ours = Chain.digest(Chain(turns, g).triples)
    val theirs = Chain.digest(graft.Pipeline.triples(r.spark, cfg).toDF())
    r.check("composition_guard", ours == theirs, s"chain $ours vs Pipeline.triples $theirs")
    r.report("composition_guard") = Map("count" -> ours._1, "checksum" -> ours._2)
  }

  // ------------------------------------------------------------ batch

  private def batch(r: Run, sink: Boolean): Unit = {
    val spark = r.spark
    /** The sink's manifest of a commit: (Σ triple_count, xor of the bucket checksums). */
    def manifest(dir: String): (Long, Long) = {
      val m = GraphSink.readManifest(spark, dir)
        .agg(sum(col("triple_count")), bit_xor(col("checksum"))).head()
      (m.getLong(0), m.getLong(1))
    }
    /** One set-up from nothing: generate the input and write it to parquet,
      * write the gazetteer table and broadcast its rows, then run the cold
      * verification pass (on the sink workload a first commit, whose files
      * are digested before they are removed). */
    def setUp(dir: String): (DataFrame, Gaz, (Long, Long, Long)) = {
      val (turns, g) =
        if (!sink) {
          val gazRows = Gen.bigGazetteer(r.seed, SparseConcepts, SparseVocab)
          val shape = Gen.Sparse(Gen.aliases(gazRows), SparseVocab, SparsePlantEvery)
          val sizes = Gen.convSizes(r.seed, SparseTurns, 2, 12, 0.0)
          (writeTurns(r, s"$dir/turns", sizes, shape), Chain.gaz(spark, gazRows, r.path(s"$dir/gaz")))
        } else {
          val shape = Gen.Dense(Gazetteer.plantableSurfaces(DenseBase).take(DenseBase).toArray,
            DenseBase / 4, fillers)
          val sizes = Gen.convSizes(r.seed, DenseTurns, 2, 40, 0.05)
          val gaz = Chain.gaz(spark, Gazetteer.rows(DenseBase).toArray, r.path(s"$dir/gaz"))
          (writeTurns(r, s"$dir/turns", sizes, shape), gaz)
        }
      val d =
        if (!sink) Chain.digest(Chain(turns, g).triples)
        else {
          val out = r.path(s"$dir/sink")
          GraphSink.writeResumable(Chain(turns, g).triples, out, "verify")
          val d = Chain.digest(GraphSink.readTriples(spark, out))
          r.check("sink_manifest", manifest(out) == ((d._1, d._3)),
            s"manifest ${manifest(out)} vs files read back (${d._1}, ${d._3})")
          r.rm(out)
          d
        }
      (turns, g, d)
    }
    // set up SetUps times, each from nothing; setup_s is the session start
    // plus their median. The later set-ups run in a warm JVM, and together
    // they are the warm-up of the passes (JIT, codegen, the automaton cache).
    // The last one's tables feed the passes.
    // a traced run reports no setup_s; its decomposition's repetitions are
    // its warm-up
    val nSetUps = if (r.trace) 1 else SetUps
    val setups = (1 to nSetUps).map { i =>
      val ((turns, g, d), span) = r.spans(s"setup.$i")(setUp(s"setup$i"))
      if (i < nSetUps) { g.bc.destroy(); r.rm(r.path(s"setup$i")) }
      (turns, g, d, span.seconds)
    }
    val (turns, g, expected, _) = setups.last
    r.check("setup_repeat", setups.map(_._3).distinct.size == 1,
      s"set-ups digested differently: ${setups.map(_._3)}")
    val setupS = r.sessionS + Stats.median(setups.map(_._4))
    r.report("setup_walls") = setups.map(_._4)
    val nRows = turns.count()
    r.report("input_rows") = nRows
    r.report("gazetteer_rows") = g.rows.length
    r.checkGolden("triples", (expected._1, expected._2))
    r.report("triples_per_pass") = expected._1

    var sinkRun = 0
    def sinkPass(): (Double, Long) = {
      val dir = r.path(s"sink/p$sinkRun"); sinkRun += 1
      val t = System.nanoTime()
      GraphSink.writeResumable(Chain(turns, g).triples, dir, s"run$sinkRun")
      val wall = (System.nanoTime() - t) / 1e9
      val m = manifest(dir)
      r.rm(dir)
      r.check("sink_manifest", m == ((expected._1, expected._3)),
        s"manifest $m vs counted (${expected._1}, ${expected._3})")
      (wall, nRows)
    }
    def countPass(): (Double, Long) = {
      val t = System.nanoTime()
      val d = Chain.digest(Chain(turns, g).triples)
      val wall = (System.nanoTime() - t) / 1e9
      r.check("pass_digest", d == expected, s"pass $d vs expected $expected")
      (wall, nRows)
    }
    def pass(): Option[(Double, Long)] = r.op("chain_pass")(if (sink) sinkPass() else countPass())

    if (!r.trace) {
      // the set-ups' garbage is collected, and one more pass is run, before
      // the timed region: without them its first pass ran 10-30 % slower
      System.gc()
      r.spans("warmup")(pass())
      val cpu0 = Host.cpuSeconds()
      val (walls, rows) = r.spans("timed")(loop(r)(pass()))._1
      val cpuS = Host.cpuSeconds() - cpu0
      r.e2e("setup_s") = setupS
      r.e2e("triples_per_s") = expected._1 / Stats.median(walls)
      r.e2e("pass_p50_s") = Stats.median(walls)
      r.e2e("cpu_s_per_mrow") = cpuS / (rows / 1e6)
      r.e2e("ok_ratio") = (r.attempted - r.failed).toDouble / math.max(1L, r.attempted)
      r.report("passes") = walls
      r.report("pass_tail_percentile_with_10_beyond") = Stats.tailPercentile(walls)
      r.report("rows_per_s") = rows / walls.sum
      r.report("peak_rss_mb") = Host.peakRssMb()
    } else {
      r.spans("guard")(compositionGuard(r))
      tracedBatch(r, turns, g, sink, expected)
      // the streaming layers, measured alongside: the ingest stream with the
      // extraction-heavy workload, the dedup stream with the sink workload.
      // A section takes about 30 s; a run already this late (a slow host)
      // leaves it out rather than overrun the time a run may take, and
      // fails, since its layers go unmeasured.
      val rec = new Recorder
      if (r.sinceStart > StreamSectionLatestStartS)
        r.check("streaming_section_measured", ok = false, s"skipped: ${r.sinceStart} s into the run")
      else if (!sink) r.spans("stream_ingest")(streamIngest(r, rec))
      else r.spans("dedup_stream")(traced(r, rec)(dedupStream(r, rec)))
      r.layer("spark.failed_tasks") += failedTasks(rec)
      r.layer("jvm.peak_rss_mb") = Host.peakRssMb()
    }
  }

  private def prefixes(l: Chain.Layers): Seq[(String, DataFrame, Seq[org.apache.spark.sql.Column])] = {
    def n = count(lit(1)).as("rows")
    def cnt(c: org.apache.spark.sql.Column, name: String) = sum(when(c, 1L).otherwise(0L)).as(name)
    Seq(
      ("sources.scan", l.turns, Seq(n)),
      ("Segmentation", l.segments, Seq(n)),
      ("MentionExtractor", l.mentions, Seq(n) ++ (0 to 2).map(i => cnt(col("try_index") === i, s"try$i"))),
      ("Linking", l.linked, Seq(n, cnt(col("icd10_code").isNotNull, "xwalk"))),
      ("Aggregation", l.turnAgg, Seq(n)),
      ("Triples", l.triples, Seq(n) ++ Seq("mentions", "asserts", "uses_tool", "replies_to")
        .map(p => cnt(col("pred") === p, p))))
  }

  /** What a decomposition measured: median prefix walls in chain order,
    * the observed counts of the last repetition, and the final plan of the
    * full chain. */
  private final case class Decomposition(walls: Seq[(String, Double)],
      observed: Map[String, Map[String, Any]], plan: Option[QueryExecution])

  /** Per-layer decomposition: cumulative prefixes of the chain, each under
    * its own job group into the noop sink, with the recorder attached; self
    * time = prefix(i) − prefix(i−1), from medians over `reps` repetitions. */
  private def decompose(r: Run, turns: DataFrame, g: Gaz, reps: Int, sink: Boolean,
      rec: Recorder): Decomposition = {
    val spark = r.spark
    val walls = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
    val observed = mutable.HashMap.empty[String, Map[String, Any]]
    val qes = mutable.ArrayBuffer.empty[QueryExecution]
    val qel = new QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, d: Long): Unit = qes.synchronized(qes += qe)
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    var plan: Option[QueryExecution] = None
    for (rep <- 1 to reps) {
      val l = Chain(turns, g)
      val ps = prefixes(l)
      traced(r, rec) {
        ps.foreach { case (name, df, exprs) =>
          val grp = s"$name#$rep"
          if (name == "Triples" && rep == 1) spark.listenerManager.register(qel)
          val ((wall, obs), _) = r.spans(s"prefix.$name")(Chain.noop(spark, grp, df, exprs))
          if (name == "Triples" && rep == 1) {
            org.apache.spark.kgbench.BusDrain(spark.sparkContext)
            spark.listenerManager.unregister(qel)
            plan = qes.synchronized(qes.lastOption)
          }
          walls.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += wall
          observed(name) = obs
        }
        if (sink) {
          val dir = r.path(s"sink/traced$rep")
          val grp = s"GraphSink#$rep"
          val t0 = System.currentTimeMillis()
          val (_, span) = r.spans("prefix.GraphSink")(
            Chain.inGroup(spark, grp)(GraphSink.writeResumable(l.triples, dir, s"traced$rep")))
          walls.getOrElseUpdate("GraphSink", mutable.ArrayBuffer.empty) += span.seconds
          if (rep == reps) sinkFacts(r, dir, rec, t0, System.currentTimeMillis())
          r.rm(dir)
        }
      }
    }
    Decomposition(walls.toSeq.map { case (k, v) => k -> Stats.median(v.toSeq) }, observed.toMap,
      plan)
  }

  /** Sink facts from the committed files, the manifest, and the SQL
    * executions the sink ran inside [t0, t1]: its parquet writes (data and
    * manifest) and its collects (the committed-bucket and metrics read-backs). */
  private def sinkFacts(r: Run, dir: String, rec: Recorder, t0: Long, t1: Long): Unit = {
    val files = org.apache.commons.io.FileUtils
      .listFiles(new File(s"$dir/triples"), Array("parquet"), true).asScala
    val man = GraphSink.readManifest(r.spark, dir).select("triple_count").collect().map(_.getLong(0))
    val triples = man.sum
    org.apache.spark.kgbench.BusDrain(r.spark.sparkContext)
    val execs = rec.synchronized(rec.executions.filter(e => e._2 >= t0 && e._3 <= t1).toSeq)
    def wall(action: String) =
      execs.filter(_._1.startsWith(action + " at GraphSink")).map(e => e._3 - e._2).sum / 1e3
    r.report("sink_executions") = execs.map(e => Map("description" -> e._1, "ms" -> (e._3 - e._2)))
    r.layer("GraphSink.write_s") = wall("parquet")
    r.layer("GraphSink.readback_s") = wall("collect")
    r.layer("GraphSink.bytes_per_triple") = files.map(_.length()).sum.toDouble / triples
    r.layer("GraphSink.files") = files.size
    r.layer("GraphSink.bucket_skew") = man.max / (triples.toDouble / man.length)
  }

  /** Attach the recorder for the traced phase only. */
  private def traced[T](r: Run, rec: Recorder)(body: => T): T = {
    r.spark.sparkContext.addSparkListener(rec)
    try body
    finally {
      org.apache.spark.kgbench.BusDrain(r.spark.sparkContext)
      r.spark.sparkContext.removeSparkListener(rec)
    }
  }

  private val LayerOrder = Seq("sources.scan", "Segmentation", "MentionExtractor",
    "Linking", "Aggregation", "Triples", "GraphSink")

  /** Fill every per-layer metric of the KG layers from a decomposition;
    * `fullS` is the wall the layer shares are taken of. */
  private def layerMetrics(r: Run, d: Decomposition, rec: Recorder, reps: Int, fullS: Double): Unit = {
    val (walls, obs, plan) = (d.walls, d.observed, d.plan)
    val self = Stats.prefixDiffs(walls)
    self.foreach { s =>
      val key = if (s.layer == "sources.scan") "sources.scan_s" else s"${s.layer}.self_s"
      r.layer(key) = s.selfS
    }
    r.layer("trace.negative_self_flags") = self.count(_.negative)
    r.report("self_times") = self.map(s => Map("layer" -> s.layer, "self_s" -> s.selfS,
      "negative" -> s.negative))
    // listener deltas, attributed like the walls: median per prefix, then differences
    def per(name: String, f: GroupTotals => Double): Double =
      Stats.median((1 to reps).map(i => f(rec.group(s"$name#$i"))))
    def delta(name: String, f: GroupTotals => Double): Double = {
      val i = LayerOrder.indexOf(name)
      per(name, f) - (if (i <= 0) 0.0 else per(LayerOrder(i - 1), f))
    }
    Seq("Segmentation", "MentionExtractor", "Linking", "Aggregation", "Triples").foreach { n =>
      r.layer(s"$n.cpu_s") = delta(n, _.cpuNs / 1e9)
    }
    r.layer("Aggregation.shuffle_write_mb") = delta("Aggregation", _.shuffleWriteBytes / 1e6)
    r.layer("Aggregation.spill_mb") = delta("Aggregation", _.spillBytes / 1e6)
    def o(layer: String, k: String): Double =
      obs.get(layer).flatMap(_.get(k)).map(_.toString.toDouble).getOrElse(0.0)
    r.layer("Segmentation.rows_out") = o("Segmentation", "rows")
    r.layer("MentionExtractor.rows_out") = o("MentionExtractor", "rows")
    (0 to 2).foreach(i => r.layer(s"MentionExtractor.rows_by_try.$i") = o("MentionExtractor", s"try$i"))
    r.layer("Linking.xwalk_hit_ratio") = o("Linking", "xwalk") / math.max(1.0, o("Linking", "rows"))
    r.layer("Aggregation.compression") = o("MentionExtractor", "rows") / math.max(1.0, o("Aggregation", "rows"))
    Seq("mentions", "asserts", "uses_tool", "replies_to").foreach(p =>
      r.layer(s"Triples.rows_by_pred.$p") = o("Triples", p))
    plan.foreach { qe =>
      val s = PlanShape.of(qe.executedPlan)
      r.layer("plan.shuffle_exchanges") = s.shuffleExchanges
      r.layer("Triples.reused_exchanges") = s.reusedExchanges
      r.layer("Aggregation.sort_aggs") = s.sortAggs
      r.layer("Aggregation.hash_aggs") = s.hashAggs
      r.layer("MentionExtractor.passes") = s.extractionPasses
    }
    r.layer("Triples.max_task_skew") = rec.group("Triples#1").maxTaskSkew
    r.layer("jvm.gc_s") = per("Triples", _.gcMs / 1e3)
    r.layer("spark.tasks") = per("Triples", _.tasks.toDouble)
    Seq("Segmentation", "MentionExtractor", "Aggregation").foreach(n =>
      r.layer(s"$n.share") = r.layer.getOrElse(s"$n.self_s", 0.0) / fullS)
  }

  private def failedTasks(rec: Recorder): Double =
    rec.synchronized(rec.groups.values.map(_.failedTasks).sum.toDouble)

  private def tracedBatch(r: Run, turns: DataFrame, g: Gaz, sink: Boolean,
      expected: (Long, Long, Long)): Unit = {
    val rec = new Recorder
    val reps = 3
    val d = decompose(r, turns, g, reps, sink, rec)
    val wallMap = d.walls.toMap
    // layer shares are of the compute chain's wall (through Triples.all),
    // the same on both workloads; the sink's is of the chain plus the sink
    layerMetrics(r, d, rec, reps, wallMap("Triples"))
    if (sink) r.layer("GraphSink.share") = r.layer("GraphSink.self_s") / wallMap("GraphSink")
    overhead(r, turns, g, rec)
    r.layer("spark.failed_tasks") = failedTasks(rec)
    r.check("traced_rows", d.observed("Triples")("rows").toString.toLong == expected._1,
      s"traced triples ${d.observed("Triples")("rows")} vs ${expected._1}")
  }

  /** Tracing overhead: the full chain five times with the same write and
    * observation — warm-up, untraced, traced, traced, untraced (recorder
    * detached or attached). A plan run right after a different one runs
    * slower than the same plan run twice, so the prefix walls are not
    * compared with untraced ones, and the order balances the second-run
    * speed-up. */
  private def overhead(r: Run, turns: DataFrame, g: Gaz, rec: Recorder): Unit = {
    val l = Chain(turns, g)
    val exprs = prefixes(l).last._3
    def full(): Double = Chain.noop(r.spark, "full", l.triples, exprs)._1
    r.spans("full.warmup")(full())
    val u1 = r.spans("untraced.Triples")(full())._1
    val t = (1 to 2).map(_ => r.spans("traced.Triples")(traced(r, rec)(full()))._1)
    val untraced = Seq(u1, r.spans("untraced.Triples")(full())._1)
    r.layer("trace.full_chain_s") = Stats.median(t)
    r.layer("trace.untraced_median_s") = Stats.median(untraced)
    r.layer("trace.overhead_ratio") = Stats.median(t) / Stats.median(untraced)
  }

  // ------------------------------------------------------------ streams

  /** Data-carrying micro-batches of a query, one progress entry each. */
  private def batchProgress(q: StreamingQuery): Seq[StreamingQueryProgress] =
    q.recentProgress.toSeq.filter(p => p.numInputRows > 0 && p.durationMs.containsKey("addBatch"))
      .groupBy(_.batchId).values.map(_.last).toSeq.sortBy(_.batchId)

  private def phase(ps: Seq[StreamingQueryProgress], k: String): Double =
    Stats.median(ps.map(p => Option(p.durationMs.get(k)).map(_.toDouble).getOrElse(0.0) / 1e3))

  /** Per-trigger phases (medians) of the ingest query, and the jobs each
    * micro-batch of `prefix` ran. */
  private def streamLayerMetrics(r: Run, prefix: String, ps: Seq[StreamingQueryProgress],
      rec: Recorder, phases: Boolean): Unit = {
    if (phases) {
      Seq("addBatch", "queryPlanning", "getBatch", "latestOffset", "walCommit", "commitOffsets",
        "triggerExecution").foreach(k => r.layer(s"$prefix.${k}_s") = phase(ps, k))
      val state = ps.lastOption.toSeq.flatMap(_.stateOperators.toSeq)
      r.layer(s"$prefix.state_rows") = state.map(_.numRowsTotal).sum
      r.layer(s"$prefix.state_mb") = state.map(_.memoryUsedBytes).sum / 1e6
    }
    r.layer(s"$prefix.machinery_share") = 1.0 - Stats.median(ps.map(p =>
      p.durationMs.get("addBatch").toDouble / p.durationMs.get("triggerExecution").toDouble))
    org.apache.spark.kgbench.BusDrain(r.spark.sparkContext)
    val ids = ps.map(_.batchId).toSet
    val queryId = ps.headOption.map(_.id.toString)
    val per = rec.synchronized(rec.jobsPerBatch.collect {
      case ((query, b), n) if queryId.contains(query) && ids(b) => n.toDouble }.toSeq)
    r.layer(s"$prefix.jobs_per_batch") = if (per.isEmpty) 0.0 else Stats.median(per)
  }

  /** Files of a workload-made stream: parquet files delivered one per
    * micro-batch (maxFilesPerTrigger = 1) by the closed-loop client. */
  private final class Feed(r: Run, name: String, val files: Array[File], schema: StructType) {
    val src: String = r.path(s"$name/src")
    new File(src).mkdirs()
    private val mtimeBase = System.currentTimeMillis() - 3600L * 1000L
    var delivered = 0
    def stream: DataFrame =
      r.spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(src)
    /** Deliver the next file and wait until the query has committed it;
      * returns the arrival-to-commit wall. */
    def next(q: StreamingQuery): Double = {
      val t = System.nanoTime()
      Chain.deliver(Seq(files(delivered)), src, mtimeBase)
      delivered += 1
      q.processAllAvailable()
      (System.nanoTime() - t) / 1e9
    }
  }

  /** Traced only: StreamingTriples over one-file micro-batches of
    * default-density turns — whole conversations per file, plus redelivered
    * duplicates (a tenth of the previous file's turns, a fiftieth of its
    * own). One warm-up and one untraced micro-batch, then two traced; the
    * output must equal the batch chain over the delivered distinct turns. */
  private def streamIngest(r: Run, rec: Recorder): Unit = {
    val spark = r.spark
    val gazRows = Gazetteer.rows(DenseBase).toArray
    val (g, feed) = r.spans("stream.input") {
      val g = Chain.gaz(spark, gazRows, r.path("stream_gaz"))
      val withFile = streamTurns(r).withColumn("file", fileOf(col("conv_id")))
      val key = xxhash64(lit(r.seed), col("conv_id"), col("turn_idx"))
      val redelivered = withFile.filter(pmod(key, lit(10)) === 0 && col("file") < StreamFiles - 1)
        .withColumn("file", col("file") + 1)
      val twice = withFile.filter(pmod(key, lit(50)) === 1)
      withFile.unionByName(redelivered).unionByName(twice)
        .repartition(StreamFiles, col("file"))
        .write.partitionBy("file").parquet(r.path("turn_stage"))
      val files = Chain.flattenByPartition(r.path("turn_stage"), "file")
      (g, new Feed(r, "ingest", files, spark.read.parquet(files.head.getPath).schema))
    }._1
    val out = r.path("ingest/out")
    val q = StreamingTriples.start(feed.stream, gazRows, g.df, out, r.path("ingest/ck"))
    val walls = try {
      r.spans("stream.warmup")(feed.next(q))
      val untraced = feed.next(q)
      val tracedWalls = traced(r, rec)(Seq(feed.next(q), feed.next(q)))
      r.layer("stream.batch_p50_s") = Stats.median(tracedWalls)
      r.layer("stream.untraced_batch_s") = untraced
      streamLayerMetrics(r, "stream", batchProgress(q).takeRight(2), rec, phases = true)
      tracedWalls
    } finally q.stop()
    // extraction-side layer costs over the traced micro-batches' distinct
    // turns, as shares of those micro-batches' walls
    val turns = streamTurns(r).filter(fileOf(col("conv_id")) >= feed.delivered - 2 &&
      fileOf(col("conv_id")) < feed.delivered)
    val d = decompose(r, turns, g, 1, sink = false, new Recorder)
    val self = Stats.prefixDiffs(d.walls).map(s => s.layer -> s.selfS).toMap
    Seq("MentionExtractor", "Aggregation").foreach(n =>
      r.layer(s"stream.$n.share") = self(n) / walls.sum)
    r.spans("stream.verify") {
      val n = feed.delivered
      val expected = Chain.digest(Chain(streamTurns(r).filter(fileOf(col("conv_id")) < n), g).triples)
      val written = StreamingTriples.readTriples(spark, out)
      val got = Chain.digest(written)
      r.check("stream_equals_batch", got == expected, s"stream $got vs batch chain $expected")
      r.check("stream_batches", batchProgress(q).length == n,
        s"${batchProgress(q).length} micro-batches for $n files")
      val manifest = GraphSink.readManifest(spark, out).agg(sum(col("triple_count"))).head().getLong(0)
      r.check("stream_manifest", manifest == got._1, s"manifest $manifest vs rows ${got._1}")
      r.checkGolden("stream", (got._1, got._2))
    }
  }

  /** Traced only: StreamingDedup over an indexed corpus, three id-ordered
    * micro-batches with a fold after the second; the accepted ids must
    * equal Dedup.incrementalNewDocs over the same delta. */
  private def dedupStream(r: Run, rec: Recorder): Unit = {
    val spark = r.spark
    val docs = Gen.Docs(DedupCorpus, DedupFiles * DedupPerFile, DedupVocab)
    val feed = r.spans("dedup.input") {
      docs.frame(spark, r.seed, 0, DedupCorpus, parts(r)).write.parquet(r.path("corpus"))
      docs.frame(spark, r.seed, DedupCorpus, DedupCorpus + DedupFiles * DedupPerFile, parts(r))
        .withColumn("file", ((col("doc_id") - DedupCorpus) / DedupPerFile).cast("int"))
        .repartition(DedupFiles, col("file"))
        .write.partitionBy("file").parquet(r.path("doc_stage"))
      val files = Chain.flattenByPartition(r.path("doc_stage"), "file")
      new Feed(r, "dedup", files, spark.read.parquet(files.head.getPath).schema)
    }._1
    val idx = r.path("index")
    val pristine = r.path("index_pristine")
    val (_, build) = r.spans("Dedup.buildMinhashIndex")(
      Dedup.buildMinhashIndex(spark.read.parquet(r.path("corpus")), "doc_id", "text", idx))
    r.layer("Dedup.buildMinhashIndex_s") = build.seconds
    r.layer("Dedup.index_mb") = org.apache.commons.io.FileUtils.sizeOfDirectory(new File(idx)) / 1e6
    org.apache.commons.io.FileUtils.copyDirectory(new File(idx), new File(pristine))
    val out = r.path("dedup/out")
    val q = StreamingDedup.start(feed.stream, idx, out, r.path("dedup/ck"))
    val walls = try {
      val w0 = feed.next(q)
      val w1 = feed.next(q)
      val (_, fold) = r.spans("StreamingDedup.foldAndRetire")(
        StreamingDedup.foldAndRetire(spark, idx, out, q.lastProgress.batchId))
      r.layer("StreamingDedup.foldAndRetire_s") = fold.seconds
      Seq(w0, w1, feed.next(q))
    } finally q.stop()
    r.report("dedup_batch_s") = walls
    r.layer("StreamingDedup.batch_s") = Stats.median(walls.tail)
    r.layer("StreamingDedup.docs_per_s") = DedupPerFile * 2 / walls.tail.sum
    streamLayerMetrics(r, "StreamingDedup", batchProgress(q).tail, rec, phases = false)
    r.layer("StreamingDedup.seen_tail_rows") = spark.read.parquet(s"$out/seen").count()
    def ids(df: DataFrame) = df.select(col("doc_id")).collect().map(_.getLong(0)).toSet
    val want = ids(Dedup.incrementalNewDocs(spark, pristine,
      spark.read.parquet(feed.files.take(feed.delivered).map(_.getPath).toSeq: _*), "doc_id", "text"))
    val accepted = ids(StreamingDedup.readAccepted(spark, out))
    r.check("dedup_equals_batch", accepted == want,
      s"stream accepted ${accepted.size} ids vs incrementalNewDocs ${want.size}")
    r.checkGolden("accepted", (want.size.toLong, want.toSeq.map(java.lang.Long.hashCode(_).toLong).sum))
    r.layer("StreamingDedup.accept_ratio") = want.size.toDouble / (feed.delivered * DedupPerFile)
  }

  /** The stream's distinct turns, straight from the generator. */
  private def streamTurns(r: Run): DataFrame =
    Gen.turns(r.spark, r.seed, Gen.convSizes(r.seed, StreamTurns, 2, 40, 0.0),
      Gen.Default(Gazetteer.plantableSurfaces(DenseBase).toArray, fillers), parts(r))

  private def fileOf(convId: org.apache.spark.sql.Column) =
    pmod(regexp_extract(convId, "(\\d+)", 1).cast("int"), lit(StreamFiles))
}
