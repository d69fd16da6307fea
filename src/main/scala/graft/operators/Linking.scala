package graft.operators

import org.apache.hadoop.fs.Path
import org.apache.spark.SparkContext
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import scala.jdk.CollectionConverters._

/** Entity linking (SURVEY.md §2.3 J1/J2, §2.11 L1-L4).
  *
  * The gazetteer is the DIMENSION side everywhere: a few hundred MB at
  * production scale vs TBs of mentions, so every join here is an explicit
  * `broadcast()` hash join — no shuffle of the fact side (reference holds
  * the whole `umls_df` in memory per process, `dhp_fhir_tool1_v1.py:65`).
  * The one exception is [[linkFaceted]]'s per-combo ranking, whose
  * cardinality is caller-data-driven — it broadcasts only under a counted
  * threshold and falls back to a shuffle join above it.
  *
  * [[link]]'s two lookup tables ([[preferredPerCode]], [[icd10Crosswalk]])
  * depend on the gazetteer alone, so like the reference's one `umls_df`
  * per process they are built once per gazetteer content and kept, as
  * local checkpoints, in a cache of [[CacheCapacity]] gazetteers (next to
  * [[MentionExtractor]]'s automaton cache). Every later `link` of that
  * gazetteer joins the kept tables instead of re-running their scan,
  * shuffle, sort and window.
  */
object Linking {

  /** P2 preferred-term ranking (reference `dhp_fhir_tool1_v1.py:228-243`):
    * prefer ISPREF='Y'&&TTY='PT', then 'Y'&&'FN', then any 'Y', else
    * anything; deterministic tie-break on str. */
  def ttyRankCol: Column =
    when(col("ispref") === "Y" && col("tty") === "PT", 0)
      .when(col("ispref") === "Y" && col("tty") === "FN", 1)
      .when(col("ispref") === "Y", 2)
      .otherwise(3)

  /** (cui, sab, code) -> preferred concept_name. Ranked WITHIN each code
    * (not per (cui, sab)): a real UMLS carries several codes under one
    * (cui, sab), and a per-(cui,sab) winner would leave every non-preferred
    * code's mentions without a preferred name — the reference re-looks the
    * name up by SCUI alone (`dhp_fhir_tool1_v1.py:228-243`), i.e. per code. */
  def preferredPerCode(gaz: DataFrame): DataFrame = {
    val w = Window.partitionBy("cui", "sab", "code")
      .orderBy(col("rank"), col("str"))
    gaz.withColumn("rank", ttyRankCol)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("cui"), col("sab"), col("code"),
        col("str").as("preferred_name"))
  }

  /** L4 ICD10CM crosswalk rows: cui -> first ICD10CM (code, name)
    * (reference `app.py:891-917`; miss -> N/A handled by the left join). */
  def icd10Crosswalk(gaz: DataFrame): DataFrame = {
    val w = Window.partitionBy("cui").orderBy(col("rank"), col("code"), col("str"))
    gaz.filter(col("sab") === "ICD10CM")
      .withColumn("rank", ttyRankCol)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("cui"), col("code").as("icd10_code"), col("str").as("icd10_name"))
  }

  /** J1 + J2: enrich mentions with the preferred concept name of their own
    * vocabulary and the ICD10CM crosswalk. Both joins broadcast.
    *
    * The two lookup tables come from the gazetteer cache (see
    * [[lookupTables]]): the first `link` of a gazetteer plans them from
    * `gaz` like any other input, and a later one joins their kept local
    * checkpoints. So a call may run Spark jobs before it returns: the
    * second call on a new gazetteer builds its tables. */
  def link(mentions: DataFrame, gaz: DataFrame): DataFrame = {
    val (prefTable, xwalkTable) = lookupTables(gaz)
    val pref = prefTable
      .withColumnRenamed("sab", "p_sab").withColumnRenamed("code", "p_code")
      .withColumnRenamed("cui", "p_cui")
    val xwalk = xwalkTable.withColumnRenamed("cui", "x_cui")
    mentions
      .join(broadcast(pref),
        mentions("cui") === pref("p_cui") &&
          mentions("source") === pref("p_sab") &&
          mentions("code") === pref("p_code"), "left")
      .withColumn("concept_name", coalesce(col("preferred_name"), col("concept_name")))
      .drop("p_cui", "p_sab", "p_code", "preferred_name")
      .join(broadcast(xwalk), mentions("cui") === xwalk("x_cui"), "left")
      .drop("x_cui")
  }

  /** One gazetteer's content: the SparkContext whose block managers hold
    * its checkpoints, its canonicalized analyzed plan (a `LocalRelation`
    * gazetteer carries its rows there), and every input file with its
    * length and modification time, so a file gazetteer rewritten at the
    * same path is a new key. */
  private final case class GazKey(sc: SparkContext, plan: LogicalPlan,
      files: Seq[(String, Long, Long)])

  private def keyOf(gaz: DataFrame): GazKey = {
    val sc = gaz.sparkSession.sparkContext
    val files = gaz.inputFiles.toSeq.sorted.map { f =>
      val p = new Path(f)
      val st = p.getFileSystem(sc.hadoopConfiguration).getFileStatus(p)
      (f, st.getLen, st.getModificationTime)
    }
    GazKey(sc, gaz.queryExecution.analyzed.canonicalized, files)
  }

  /** A gazetteer's two lookup tables, each a local checkpoint. */
  private final class Tables(val pref: DataFrame, val xwalk: DataFrame,
      val rdds: Seq[RDD[InternalRow]]) {
    /** Each checkpoint's stored partitions, -1 once unregistered. Spark
      * lists no storage for a checkpoint that stored no bytes (an empty
      * crosswalk), so that one counts 0. */
    private def stored: Seq[Int] = {
      val sc = rdds.head.sparkContext
      val cached = sc.getRDDStorageInfo.map(i => i.id -> i.numCachedPartitions).toMap
      val registered = sc.getPersistentRDDs
      rdds.map(r => if (registered.contains(r.id)) cached.getOrElse(r.id, 0) else -1)
    }
    private val built = stored
    /** Both checkpoints still hold what their build stored: an unpersist
      * drops an RDD's registration, a lost executor its blocks. */
    def live: Boolean = stored == built
    def release(): Unit = rdds.foreach(_.unpersist(blocking = false))
  }

  private def checkpointed(df: DataFrame): (DataFrame, RDD[InternalRow]) = {
    val cp = df.localCheckpoint()
    (cp, cp.queryExecution.logical.collectFirst { case r: LogicalRDD => r.rdd }.get)
  }

  /** Gazetteers whose tables are kept: 3, as many as
    * [[MentionExtractor.CacheCapacity]] holds automaton sets for, so the
    * driver memory and executor blocks held are bounded by three
    * gazetteers' lookup tables (each far smaller than its gazetteer). */
  private[graft] val CacheCapacity = 3

  private def lru[V](onEvict: V => Unit) =
    new java.util.LinkedHashMap[GazKey, V](8, 0.75f, true) {
      override def removeEldestEntry(e: java.util.Map.Entry[GazKey, V]): Boolean =
        size() > CacheCapacity && { onEvict(e.getValue); true }
    }

  /** Gazetteers linked once and not yet admitted to `tables`. Both maps
    * are guarded by `tables`' lock. */
  private val seen = lru[java.lang.Boolean](_ => ())
  private val tables = lru[Tables](_.release())

  /** Forgets, without unpersisting, every entry of a stopped SparkContext:
    * its blocks went with it, an unpersist would call its stopped RPC
    * environment, and a kept key would pin the context in driver memory. */
  private def dropStopped(): Unit = {
    seen.keySet.removeIf(_.sc.isStopped)
    tables.keySet.removeIf(_.sc.isStopped)
  }

  /** The ids of the checkpointed RDDs `sc` keeps for linking.
    * [[graft.Sessions.sweep]] spares them: the cache is bounded by
    * [[CacheCapacity]] and later queries of that gazetteer join them. */
  private[graft] def keptRddIds(sc: SparkContext): Set[Int] =
    tables.synchronized {
      tables.asScala.collect { case (k, t) if k.sc eq sc => t.rdds.map(_.id) }.flatten.toSet
    }

  /** `gaz`'s preferred-name and crosswalk tables.
    *
    * Admission on second use: the first call on a gazetteer returns the
    * window plans over `gaz` and runs nothing, so a one-shot link pays no
    * build; the second call builds the kept tables (two eager
    * `localCheckpoint`s, i.e. Spark jobs on the calling thread) and every
    * later call joins them. An entry whose blocks are gone (an unpersist
    * of every RDD, a lost executor) is dropped, and the call plans the
    * windows again as a first use would. A local checkpoint is not fault
    * tolerant: a query already planned over the blocks of a lost executor
    * fails ("Checkpoint block not found") and must be re-planned through
    * `link`. An evicted entry, or the loser of two threads building the
    * same gazetteer at once, is unpersisted. */
  private def lookupTables(gaz: DataFrame): (DataFrame, DataFrame) = {
    val key = keyOf(gaz)
    // Right: a live entry; Left(build): none, build one now or not yet
    val state = tables.synchronized {
      dropStopped()
      Option(tables.get(key)) match {
        case Some(t) if t.live => Right(t)
        case Some(t) => tables.remove(key); t.release(); seen.put(key, true); Left(false)
        case None => Left(seen.remove(key) != null || { seen.put(key, true); false })
      }
    }
    state match {
      case Right(t) => (t.pref, t.xwalk)
      case Left(false) => (preferredPerCode(gaz), icd10Crosswalk(gaz))
      case Left(true) =>
        // built outside the lock: the jobs take seconds on a big gazetteer
        val (pref, p) = checkpointed(preferredPerCode(gaz))
        val (xwalk, x) = checkpointed(icd10Crosswalk(gaz))
        val built = new Tables(pref, xwalk, Seq(p, x))
        val kept = tables.synchronized {
          dropStopped()
          val again = tables.get(key)
          if (again != null && again.live) { built.release(); again }
          else { Option(tables.put(key, built)).foreach(_.release()); built }
        }
        (kept.pref, kept.xwalk)
    }
  }

  /** L1 candidate generation + L2 selection + L3 exact resolution, fully
    * lexical (the reference's ES `multi_match` + LLM pick,
    * `app.py:681-841`, made deterministic):
    *
    *   score(mention, alias) = Σ_{t ∈ tokens(surface) ∩ tokens(alias)} idf(t)
    *   idf(t) = ln(1 + N_aliases / df(t))
    *   best   = max by (score desc, length(alias) asc, code asc)
    *
    * All against the broadcast gazetteer; `topK` candidates kept per
    * mention (reference ES `"size": 10`, `app.py:720`). */
  def linkBySurface(mentions: DataFrame, gaz: DataFrame, topK: Int = 10): DataFrame = {
    // Scores depend only on the surface STRING, and dictionary-matched
    // surfaces have gazetteer-bounded cardinality — so score each DISTINCT
    // surface once and broadcast the results back onto the mention stream
    // (10^12 mentions, 10^5 surfaces: the expensive explode+join+window
    // runs on the 10^5 side).
    val surfaces = mentions.select(col("surface")).distinct()
    val cand = clauseScores(surfaces.select(col("surface").as("q")), gaz)
      .withColumnRenamed("q", "surface")
    joinBack(mentions, broadcast(topCandidates(cand, topK, "surface")), Seq("surface"))
  }

  /** One row per distinct non-empty lowercase `[a-z0-9]+` token of the
    * string column `text`, as `token`, beside the `keep` columns: the
    * alias and query tokenizer of every lexical scorer. */
  private[operators] def tokens(df: DataFrame, text: String, keep: String*): DataFrame =
    df.select(keep.map(col) :+
        explode(expr(s"array_distinct(split(lower($text), '[^a-z0-9]+'))")).as("token"): _*)
      .filter(length(col("token")) > 0)

  /** The `topK` best candidates per `key`, ranked by (score desc,
    * length(str), code, sab) into `rn`; rank 1 is `selected`. */
  private[operators] def topCandidates(cand: DataFrame, topK: Int, key: String*): DataFrame = {
    val w = Window.partitionBy(key.map(col): _*)
      .orderBy(col("score").desc, length(col("str")).asc, col("code").asc, col("sab").asc)
    cand.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= topK)
      .withColumn("selected", col("rn") === 1)
  }

  /** Each mention's `mention_key` (a hash of its identity) and `key`
    * columns, joined to the rankings on `key`. */
  private[operators] def joinBack(mentions: DataFrame, ranked: DataFrame,
      key: Seq[String]): DataFrame =
    mentions
      .withColumn("mention_key",
        xxhash64(col("conv_id"), col("turn_idx"), col("try_index"),
          col("start"), col("end")))
      .select((col("mention_key") +: key.map(col)): _*)
      .join(ranked, key)

  /** The scoring algebra's single source of truth: idf-weighted alias
    * postings (token, cui, sab, code, str, idf) with
    * idf(t) = ln(1 + N_aliases / df(t)). Consumed in-flight by
    * [[clauseScores]] and written to disk by
    * [[LexicalIndex.build]] — ONE definition, so the persisted index's
    * score-identity contract can't drift out of sync. No driver actions:
    * the alias total joins in as a broadcast single-row aggregate. */
  def aliasPostings(gaz: DataFrame): DataFrame = {
    val aliasTok = tokens(gaz, "str", "cui", "sab", "code", "str")
    val nAliases = gaz.agg(count(lit(1)).cast("double").as("n_aliases"))
    val idf = aliasTok.groupBy("token")
      .agg(countDistinct(col("sab"), col("code"), col("str")).as("df"))
      .crossJoin(broadcast(nAliases))
      .withColumn("idf", log(lit(1.0) + col("n_aliases") / col("df")))
      .drop("n_aliases", "df")
    aliasTok.join(broadcast(idf), "token")
  }

  /** One ES-should-clause analogue: idf-overlap score of every candidate
    * alias against each distinct query string `q` (the shared scoring core
    * of [[linkBySurface]] and [[linkFaceted]]). */
  def clauseScores(queries: DataFrame, gaz: DataFrame): DataFrame = {
    // token-overlap join against the broadcast index, then two-phase agg
    tokens(queries, "q", "q").join(broadcast(aliasPostings(gaz)), "token")
      .groupBy(col("q"), col("cui"), col("sab"), col("code"), col("str"))
      .agg(round(sum(col("idf")), 9).as("score"))
  }

  /** U4 faceted candidate search (reference `app.py:692-712`): the ES query
    * is a bool-should of the concept surface PLUS every facet keyword, each
    * a multi_match against the alias STR — a candidate's score is the sum
    * of its per-clause scores. `mentions` carries
    * `facets: map<string, array<string>>` (keyword_type -> keywords, the
    * reference's `search` dict); null/empty facets degrade to surface-only
    * scoring.
    *
    * Scale shape: scoring runs on DISTINCT (surface, facets) combos — maps
    * aren't groupable in Spark, so combos key on the sorted entry array.
    * Combo cardinality is CALLER-DATA-driven: dictionary-bounded when
    * facets come from a curated taxonomy, but near-|mentions| when facets
    * are free-form per-mention dicts (the reference's LLM-authored `search`
    * maps, `app.py:419-664`). The finished rankings are therefore counted
    * first and broadcast back onto the mention stream only below
    * `maxBroadcastCombos`; above it the final join is a plain shuffle join
    * (sort-merge / AQE's choice) — slower, but it cannot OOM the driver.
    * The count costs one extra partial-agg pass over the mention keys; at
    * 10^12 mentions that is the price of not gambling the driver on a
    * cardinality assumption. Every grouping/window/join key is the FULL
    * combo identity (qkey, surface, fentries) — the 64-bit qkey leads the
    * key only to make hashing/sorting cheap, so a qkey collision costs a
    * few comparisons, never a merged ranking or a dropped mention. */
  def linkFaceted(mentions: DataFrame, gaz: DataFrame, topK: Int = 10,
      maxBroadcastCombos: Long = 100000L): DataFrame = {
    // combo identity = (surface, sorted facet entries); the leading 64-bit
    // hash keeps the heavy comparisons rare (equal-hash rows only).
    // xxhash64 hashes the nested array<struct> directly — a to_json
    // serialization here measured ~20s CPU per consumer at sf0.1
    val comboKey = Seq("qkey", "surface", "fentries")
    // norm feeds the combo distinct AND the final mention join-back, and
    // the facet normalization (map_entries + sort_array + xxhash64 per
    // row) is the expensive part of both — persist so it runs once (r8;
    // profiled ~8-11 s CPU per consumer at sf0.1)
    val norm = mentions.withColumn("fentries",
      sort_array(map_entries(coalesce(col("facets"),
        expr("map()").cast("map<string,array<string>>")))))
      .withColumn("qkey", xxhash64(col("surface"), col("fentries")))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val combos = norm.select(col("qkey"), col("surface"), col("fentries")).distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // clauses of a combo: the surface + every facet keyword. Each entry's
    // keyword array is null-coalesced FIRST — flatten() nulls out on any
    // null nested array, which would explode to zero clause rows and drop
    // the mention entirely instead of degrading to surface-only scoring
    val clauses = combos.select(col("qkey"), col("surface"), col("fentries"),
      explode(concat(array(col("surface")),
        flatten(transform(col("fentries"),
          e => coalesce(e.getField("value"), array()))))).as("q"))
    val perClause = clauseScores(clauses.select("q").distinct(), gaz)
    val scored = clauses.join(broadcast(perClause), "q")
      .groupBy(col("qkey"), col("surface"), col("fentries"),
        col("cui"), col("sab"), col("code"), col("str"))
      .agg(round(sum(col("score")), 9).as("score"))
    val perCombo = topCandidates(scored, topK, comboKey: _*)

    val nCombos = combos.count()
    val ranked =
      if (nCombos <= maxBroadcastCombos) broadcast(perCombo) else perCombo
    joinBack(norm, ranked, comboKey).drop("qkey", "fentries")
  }
}
