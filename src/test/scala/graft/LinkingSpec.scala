package graft

import graft.operators.{LexicalIndex, Linking}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.window.WindowExec
import org.apache.spark.sql.functions._

/** L1-L4 linking (SURVEY §2.11): preferred-term joins and their
  * per-gazetteer lookup-table cache, faceted search's broadcast guard, and
  * the persisted lexical index that must score exactly like the on-the-fly
  * surface. */
class LinkingSpec extends GraftSuite {
  import spark.implicits._

  private def gazetteer(rows: (String, String, String, String, String, String)*): DataFrame =
    rows.toDF("cui", "sab", "tty", "ispref", "code", "str")

  private val renal = ("C1", "SNOMEDCT_US", "PT", "Y", "100", "renal failure")
  private val acuteRenal = ("C2", "SNOMEDCT_US", "PT", "Y", "200", "acute renal failure")
  private val aspirin = ("C3", "RXNORM", "PT", "Y", "R1", "aspirin")

  private def surfaceRows(df: DataFrame): Seq[String] = df
    .select($"mention_key", $"surface", $"code", $"score", $"rn", $"selected")
    .collect().map(_.toString).sorted.toSeq

  /** The executed postings scan of an indexed query. The scan hides under
    * AQE wrappers (the query has exchanges), so descend through adaptive
    * plans and query stages; the query is run first to materialize them. */
  private def postingsScan(df: DataFrame): FileSourceScanExec = {
    def scans(p: SparkPlan): Seq[FileSourceScanExec] = p match {
      case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
      case q: QueryStageExec => scans(q.plan)
      case f: FileSourceScanExec => Seq(f)
      case o => o.children.flatMap(scans) ++ o.subqueries.flatMap(scans)
    }
    df.count()
    scans(df.queryExecution.executedPlan)
      .find(_.metadata.get("Location").exists(_.contains("postings"))).get
  }

  test("preferredPerCode: every code under one (cui, sab) keeps its own preferred name") {
    // the r2 shape ranked per (cui, sab): code 101's mentions missed the
    // join and kept their alias as concept_name (VERDICT r2 missing #4)
    val gaz = gazetteer(
      ("C1", "SNOMEDCT_US", "PT", "Y", "100", "renal failure"),
      ("C1", "SNOMEDCT_US", "SY", "N", "100", "kidney failure"),
      ("C1", "SNOMEDCT_US", "PT", "Y", "101", "renal insufficiency"),
      ("C1", "SNOMEDCT_US", "SY", "N", "101", "renal shutdown"))
    val mentions = Seq(
      ("cv", 0, 0, 0, 14, "kidney failure", "C1", "SNOMEDCT_US", "100",
        "kidney failure", 0.99),
      ("cv", 0, 0, 20, 34, "renal shutdown", "C1", "SNOMEDCT_US", "101",
        "renal shutdown", 0.99)
    ).toDF("conv_id", "turn_idx", "try_index", "start", "end", "surface",
      "cui", "source", "code", "concept_name", "acc")
    val out = Linking.link(mentions, gaz)
      .select($"code", $"concept_name").as[(String, String)].collect().toMap
    assert(out("100") == "renal failure")
    assert(out("101") == "renal insufficiency")
  }

  /** One mention of (`cui`, SNOMEDCT_US, `code`) whose alias is its
    * concept_name until linking replaces it. */
  private def mentionOf(cui: String, code: String): DataFrame =
    Seq(("cv", 0, 0, 0, 5, "alias", cui, "SNOMEDCT_US", code, "alias", 0.99))
      .toDF("conv_id", "turn_idx", "try_index", "start", "end", "surface",
        "cui", "source", "code", "concept_name", "acc")

  /** Every node of `df`'s final executed plan, through AQE stages; runs
    * the query first so the final plan exists. */
  private def executedNodes(df: DataFrame): Seq[SparkPlan] = {
    df.collect()
    def walk(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case q: QueryStageExec => walk(q.plan)
      case o => o +: (o.children ++ o.subqueries).flatMap(walk)
    }
    walk(df.queryExecution.executedPlan)
  }

  private def linkedRows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  test("link cache: the second link of a gazetteer joins kept tables, " +
      "with no window and no gazetteer shuffle, and the same rows") {
    val gaz = gazetteer(
      ("C71", "SNOMEDCT_US", "SY", "N", "710", "cache alias"),
      ("C71", "SNOMEDCT_US", "PT", "Y", "710", "cache preferred"),
      ("C71", "ICD10CM", "PT", "Y", "X71", "cache icd"))
    val m = mentionOf("C71", "710")
    val first = Linking.link(m, gaz)
    val second = Linking.link(m, gaz)
    val (n1, n2) = (executedNodes(first), executedNodes(second))
    assert(n1.exists(_.isInstanceOf[WindowExec]), "the first link plans the windows")
    assert(n1.exists(_.isInstanceOf[ShuffleExchangeExec]))
    assert(!n2.exists(_.isInstanceOf[WindowExec]), n2.mkString("\n"))
    assert(!n2.exists(_.isInstanceOf[ShuffleExchangeExec]), n2.mkString("\n"))
    assert(linkedRows(second) == linkedRows(first))
    assert(second.select($"concept_name", $"icd10_code").as[(String, String)].collect()
      .toSeq == Seq(("cache preferred", "X71")))
  }

  test("link cache: a parquet gazetteer rewritten in place at the same path " +
      "links its new preferred name") {
    import java.nio.file.{Files, Path, StandardCopyOption}
    val dir = SparkEntry.tmpDir("graft_link_rewrite")
    def write(name: String, to: String): Unit =
      gazetteer(("C72", "SNOMEDCT_US", "PT", "Y", "720", name))
        .coalesce(1).write.parquet(to)
    def part(d: String): Path = Files.list(java.nio.file.Paths.get(d)).toArray
      .map(_.asInstanceOf[Path]).find(_.getFileName.toString.startsWith("part-")).get
    val m = mentionOf("C72", "720")
    def linkedName(): Seq[String] =
      Linking.link(m, spark.read.parquet(s"$dir/gaz")).select($"concept_name").as[String]
        .collect().toSeq
    write("old name", s"$dir/gaz")
    assert(linkedName() == Seq("old name"))
    assert(linkedName() == Seq("old name")) // kept from here on
    // new bytes under the old file names: only the files' length and
    // modification time tell the two gazetteers apart
    write("the new preferred name", s"$dir/next")
    val (oldPart, newPart) = (part(s"$dir/gaz"), part(s"$dir/next"))
    Thread.sleep(5) // a later modification time even on a coarse clock
    Files.copy(newPart, oldPart, StandardCopyOption.REPLACE_EXISTING)
    Files.copy(newPart.resolveSibling(s".${newPart.getFileName}.crc"),
      oldPart.resolveSibling(s".${oldPart.getFileName}.crc"),
      StandardCopyOption.REPLACE_EXISTING)
    assert(linkedName() == Seq("the new preferred name"))
  }

  /** The ids of the RDDs persisted while `body` ran. */
  private def newPersisted(body: => Unit): Set[Int] = {
    val before = spark.sparkContext.getPersistentRDDs.keySet
    body
    spark.sparkContext.getPersistentRDDs.keySet.diff(before).toSet
  }

  test("link cache: Sessions.sweep spares the kept tables, and once they " +
      "are unpersisted link plans the windows, rebuilds, and the rows stay correct") {
    val gaz = gazetteer(
      ("C73", "SNOMEDCT_US", "SY", "N", "730", "sweep alias"),
      ("C73", "SNOMEDCT_US", "PT", "Y", "730", "sweep preferred"))
    val m = mentionOf("C73", "730")
    val expected = linkedRows(Linking.link(m, gaz))
    val kept = newPersisted(assert(linkedRows(Linking.link(m, gaz)) == expected))
    assert(kept.nonEmpty)
    Sessions.sweep(spark)
    assert(kept.forall(spark.sparkContext.getPersistentRDDs.contains))
    // the kept tables are joined, not released: the crosswalk of this
    // gazetteer is empty and stores no bytes
    assert(linkedRows(Linking.link(m, gaz)) == expected)
    assert(kept.forall(spark.sparkContext.getPersistentRDDs.contains))
    // what an unpersist of every RDD leaves, and a lost executor's blocks
    kept.foreach(id => spark.sparkContext.getPersistentRDDs(id).unpersist(blocking = true))
    assert(linkedRows(Linking.link(m, gaz)) == expected)
    assert(newPersisted(assert(linkedRows(Linking.link(m, gaz)) == expected)).nonEmpty)
  }

  test("link cache: a 4th kept gazetteer evicts the oldest and unpersists " +
      "its tables") {
    val gazs = (1 to Linking.CacheCapacity + 1).map(i =>
      gazetteer(("C74", "SNOMEDCT_US", "PT", "Y", "740", s"evict $i")))
    val m = mentionOf("C74", "740")
    def keep(g: DataFrame): Set[Int] =
      newPersisted { Linking.link(m, g); Linking.link(m, g) }
    def persisted(ids: Set[Int]): Boolean =
      ids.forall(spark.sparkContext.getPersistentRDDs.contains)
    val oldest = keep(gazs.head)
    assert(oldest.nonEmpty && persisted(oldest))
    gazs.tail.init.foreach(keep)
    assert(persisted(oldest))
    assert(keep(gazs.last).nonEmpty)
    assert(!oldest.exists(spark.sparkContext.getPersistentRDDs.contains))
  }

  test("link cache: entries of a stopped SparkContext are dropped, not " +
      "unpersisted, so later admissions evict without error") {
    // a JVM runs one SparkContext at a time and the suites share theirs,
    // so the two sessions run in a child JVM on this test's classpath
    import scala.jdk.CollectionConverters._
    val jvmArgs = java.lang.management.ManagementFactory.getRuntimeMXBean
      .getInputArguments.asScala.filterNot(_.startsWith("-Xmx"))
    val cmd = Seq(s"${System.getProperty("java.home")}/bin/java") ++ jvmArgs ++
      Seq("-Xmx1g", "-cp", System.getProperty("java.class.path"),
        StoppedContextCheck.getClass.getName.stripSuffix("$"))
    val log = new java.io.File(SparkEntry.tmpDir("graft_stopped_ctx"), "child.log")
    val proc = new ProcessBuilder(cmd: _*).redirectErrorStream(true)
      .redirectOutput(log).start()
    val exited = proc.waitFor(5, java.util.concurrent.TimeUnit.MINUTES)
    if (!exited) proc.destroyForcibly().waitFor()
    val out = scala.io.Source.fromFile(log).mkString
    assert(exited && proc.exitValue == 0 && out.contains(StoppedContextCheck.Ok),
      out.linesIterator.toSeq.takeRight(40).mkString("\n"))
  }

  test("linkFaceted over maxBroadcastCombos: shuffle join, identical results") {
    val gaz = gazetteer(renal, acuteRenal)
    // per-mention-unique facets: combos ≈ mentions — the r2 driver-OOM shape
    val mentions = (0 until 64).map(i =>
      ("cv", i, 0, 5, 18, "renal failure", Map("k" -> Seq(s"v$i"))))
      .toDF("conv_id", "turn_idx", "try_index", "start", "end", "surface", "facets")
    // kill static broadcast estimation so the fallback is visible as SMJ in
    // the initial plan (the gazetteer joins keep their explicit hints)
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val guarded = Linking.linkFaceted(mentions, gaz, maxBroadcastCombos = 4)
      val hinted = Linking.linkFaceted(mentions, gaz) // default: combos ≤ cap
      // the MENTION-stream join is the 3-key (qkey, surface, fentries) join
      // (match on its key list — other joins in the plan are internal)
      val mentionBJ = "BroadcastHashJoin \\[qkey#\\d+L, surface".r
      val mentionSMJ = "SortMergeJoin \\[qkey#\\d+L, surface".r
      val gp = guarded.queryExecution.sparkPlan.toString
      val hp = hinted.queryExecution.sparkPlan.toString
      assert(mentionSMJ.findFirstIn(gp).isDefined && mentionBJ.findFirstIn(gp).isEmpty,
        s"above the cap the mention join must be a shuffle join:\n$gp")
      assert(mentionBJ.findFirstIn(hp).isDefined,
        s"below the cap the mention join stays broadcast:\n$hp")
      val g = guarded.select($"mention_key", $"code", $"rn", $"selected")
        .collect().map(_.toString).sorted.toSeq
      val h = hinted.select($"mention_key", $"code", $"rn", $"selected")
        .collect().map(_.toString).sorted.toSeq
      assert(g == h && g.nonEmpty)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("persisted lexical index: pruned postings read, scores == on-the-fly") {
    val gaz = gazetteer(renal, acuteRenal, aspirin,
      ("C4", "LNC", "PT", "Y", "L1", "cardiac arrest"))
    val mentions = Seq(
      ("cv", 0, 0, 5, 18, "renal failure"),
      ("cv", 1, 0, 2, 9, "aspirin"))
      .toDF("conv_id", "turn_idx", "try_index", "start", "end", "surface")
    val dir = SparkEntry.tmpDir("graft_lex_test")
    LexicalIndex.build(gaz, dir)
    val indexed = LexicalIndex.linkBySurface(mentions, spark, dir)
    assert(surfaceRows(indexed) == surfaceRows(Linking.linkBySurface(mentions, gaz)))
    // the postings scan is pruned to the query tokens' shards
    val scan = postingsScan(indexed)
    assert(scan.metadata("PartitionFilters").contains("shard"))
    val totalShards = spark.read.parquet(s"$dir/postings")
      .select($"shard").distinct().count()
    assert(scan.selectedPartitions.partitionCount < totalShards,
      s"expected pruning below $totalShards shards")
  }

  test("indexed linkBySurface over the surface cap: no driver collect of " +
      "surfaces, identical rows, shard pruning intact") {
    val gaz = Seq(
      ("C1", "SNOMEDCT_US", "PT", "Y", "100", "renal failure"),
      ("C2", "SNOMEDCT_US", "PT", "Y", "200", "acute renal failure"),
      ("C3", "RXNORM", "PT", "Y", "R1", "aspirin")
    ).toDF("cui", "sab", "tty", "ispref", "code", "str")
    // free-form caller: surfaces NOT in the gazetteer (the OOM hazard shape
    // — ADVICE r3; under the old code these all landed on the driver)
    val mentions = ((0 until 40).map(i => ("cv", i, 0, 0, 9, s"freeform surface $i"))
      :+ (("cv", 99, 0, 5, 18, "renal failure")))
      .toDF("conv_id", "turn_idx", "try_index", "start", "end", "surface")
    val dir = SparkEntry.tmpDir("graft_lex_guard_")
    LexicalIndex.build(gaz, dir)
    def rows(df: org.apache.spark.sql.DataFrame) = df
      .select($"mention_key", $"surface", $"code", $"score", $"rn", $"selected")
      .collect().map(_.toString).sorted.toSeq
    val broadcastPath = LexicalIndex.linkBySurface(mentions, spark, dir)
    val guarded = LexicalIndex.linkBySurface(mentions, spark, dir,
      maxBroadcastSurfaces = 4) // force the fallback
    assert(rows(guarded) == rows(broadcastPath) && rows(guarded).nonEmpty)
    // the fallback keeps the partition-pruned postings read: shard ids come
    // from a distributed distinct bounded by NumShards, not from surfaces
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    def scans(p: SparkPlan): Seq[FileSourceScanExec] = p match {
      case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
      case q: QueryStageExec => scans(q.plan)
      case f: FileSourceScanExec => Seq(f)
      case o => o.children.flatMap(scans) ++ o.subqueries.flatMap(scans)
    }
    guarded.count()
    val scan = scans(guarded.queryExecution.executedPlan)
      .find(_.metadata.get("Location").exists(_.contains("postings"))).get
    assert(scan.metadata("PartitionFilters").contains("shard"))
  }

  test("linkBySurface: idf-overlap scoring, top-k, deterministic selection") {
    val gaz = Seq(
      ("C1", "SNOMEDCT_US", "PT", "Y", "100", "renal failure"),
      ("C2", "SNOMEDCT_US", "PT", "Y", "200", "acute renal failure"),
      ("C3", "RXNORM", "PT", "Y", "R1", "aspirin")
    ).toDF("cui", "sab", "tty", "ispref", "code", "str")
    val mentions = Seq(("cv", 0, 0, 5, 18, "renal failure"))
      .toDF("conv_id", "turn_idx", "try_index", "start", "end", "surface")
    val out = Linking.linkBySurface(mentions, gaz, topK = 10)
      .select("code", "score", "rn", "selected")
      .collect().map(r => (r.getString(0), r.getDouble(1), r.getInt(2), r.getBoolean(3)))
      .sortBy(_._3)
    // both renal concepts are candidates; aspirin shares no token
    assert(out.map(_._1).toSeq == Seq("100", "200"))
    // identical token overlap => identical score; shorter alias wins
    val expectedScore = BigDecimal(2 * math.log(1.0 + 3.0 / 2.0))
      .setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(out.forall(_._2 == expectedScore))
    assert(out.head._1 == "100" && out.head._4) // selected = rank 1
  }

  test("linkFaceted: facet keywords flip the selected candidate (U4)") {
    val gaz = Seq(
      ("C1", "SNOMEDCT_US", "PT", "Y", "100", "renal failure"),
      ("C2", "SNOMEDCT_US", "PT", "Y", "200", "acute renal failure"),
      ("C3", "RXNORM", "PT", "Y", "R1", "aspirin")
    ).toDF("cui", "sab", "tty", "ispref", "code", "str")
    def mentions(facets: Map[String, Seq[String]]) =
      Seq(("cv", 0, 0, 5, 18, "renal failure", facets))
        .toDF("conv_id", "turn_idx", "try_index", "start", "end", "surface", "facets")
    // no facets: surface-only semantics — shorter alias (code 100) wins
    val plain = Linking.linkFaceted(mentions(Map.empty), gaz)
      .filter(col("selected")).select("code").as[String].collect()
    assert(plain.toSeq == Seq("100"))
    // the reference's search-keyword should-clause: facet "severity: acute"
    // scores against the alias STR and flips selection to the acute concept
    val faceted = Linking.linkFaceted(mentions(Map("severity" -> Seq("acute"))), gaz)
      .filter(col("selected")).select("code").as[String].collect()
    assert(faceted.toSeq == Seq("200"))
    // faceted-with-empty == surface-only scoring, candidate for candidate
    val a = Linking.linkFaceted(mentions(Map.empty), gaz)
      .select("code", "score", "rn").collect().map(_.toString).sorted.toSeq
    val b = Linking.linkBySurface(mentions(Map.empty).drop("facets"), gaz)
      .select("code", "score", "rn").collect().map(_.toString).sorted.toSeq
    assert(a == b)
    // a NULL keyword array inside the map degrades to surface-only scoring
    // (not a dropped mention: flatten would null out on the nested null)
    val nullKw = Linking.linkFaceted(mentions(Map("severity" -> null)), gaz)
      .select("code", "score", "rn").collect().map(_.toString).sorted.toSeq
    assert(nullKw == b)
  }
}

/** The child-JVM half of LinkingSpec's stopped-context test: keeps one
  * gazetteer's lookup tables in a session, stops it, then admits
  * [[Linking.CacheCapacity]] new gazetteers in a second session, the last
  * of which evicts the oldest entry. Prints [[Ok]] when all of it ran. */
object StoppedContextCheck {
  val Ok = "STOPPED-CONTEXT-OK"

  private def keep(spark: org.apache.spark.sql.SparkSession, i: Int): Unit = {
    import spark.implicits._
    val gaz = Seq(("C75", "SNOMEDCT_US", "PT", "Y", "750", s"stopped $i"))
      .toDF("cui", "sab", "tty", "ispref", "code", "str")
    val m = Seq(("cv", 0, 0, 0, 5, "alias", "C75", "SNOMEDCT_US", "750", "alias", 0.99))
      .toDF("conv_id", "turn_idx", "try_index", "start", "end", "surface",
        "cui", "source", "code", "concept_name", "acc")
    Linking.link(m, gaz).collect()
    val got = Linking.link(m, gaz).select($"concept_name").as[String].collect().toSeq
    require(got == Seq(s"stopped $i"), got)
  }

  def main(args: Array[String]): Unit = {
    val ran = scala.util.Try {
      val first = Sessions.local(1)
      keep(first, 0)
      require(Linking.keptRddIds(first.sparkContext).nonEmpty)
      first.stop()
      val second = Sessions.local(1)
      try {
        (1 to Linking.CacheCapacity).foreach(i => keep(second, i))
        require(Linking.keptRddIds(first.sparkContext).isEmpty)
        require(Linking.keptRddIds(second.sparkContext).size == 2 * Linking.CacheCapacity)
      } finally second.stop()
    }
    ran.failed.foreach(_.printStackTrace())
    if (ran.isSuccess) println(Ok)
    sys.exit(if (ran.isSuccess) 0 else 1)
  }
}
