package graft

import graft.operators._
import graft.operators.Dedup.{Minhash, Simhash}
import graft.operators.Similarity.{Ivf, Lsh}
import graft.sources.Gazetteer
import graft.util.{Par, PartitionedParquet}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Driver contract — see SURVEY.md §7.
  *
  * Naming: `qNN_*` = SQL-expressible operator queries, DuckDB-checked by
  * the driver (exact column-name + value parity with `oracleSql`);
  * `kg_*` = the knowledge-graph pipeline over the synthetic transcripts
  * corpus (non-SQL; rows-only check here, full independent-oracle gate in
  * `sbt -batch test`); `dd_*`/`sim_*`/`txt_*` = training-data-pipeline
  * operators (dedup / similarity / text analysis) over documents and
  * embeddings.
  *
  * Every query is one [[Query]] in `registry`, carrying its oracle SQL
  * beside its body; `queries` and `oracleSql` are views of that one list.
  */
object SparkEntry {

  /** Scale knobs for the synthetic transcripts corpus from the sf dir. */
  def scaleOf(sfDir: String): (Int, Int) = {
    val sf = "sf([0-9.]+)".r.findFirstMatchIn(sfDir).map(_.group(1).toDouble).getOrElse(0.001)
    val nConvs = math.max(60, (20000 * sf).toInt)
    val nBase = 192
    (nConvs, nBase)
  }

  def cfgOf(sfDir: String): Pipeline.Config = {
    val (nConvs, nBase) = scaleOf(sfDir)
    Pipeline.Config(nConvs, nBase)
  }

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    s.read.parquet(s"$dir/$name.parquet")

  /** A fresh temp dir, deleted with its contents at JVM exit: the frames
    * the queries return read these dirs lazily, so they must outlive the
    * query. */
  private[graft] def tmpDir(prefix: String): String = {
    val f = java.nio.file.Files.createTempDirectory(prefix).toFile
    sys.addShutdownHook(org.apache.commons.io.FileUtils.deleteQuietly(f))
    f.toString
  }

  /** The fixed query-vector set of BOTH ANN recall surfaces and of
    * [[RecallCurve]] (vec_id < n, id-sorted) — one definition so
    * sim_ivf_recall, sim_lsh_recall and the curve cannot drift onto
    * different query sets while claiming a shared protocol. Bounded driver
    * collect: n rows by construction. */
  private[graft] def fixedQueryVecs(emb: DataFrame, n: Int): Seq[(Long, Seq[Double])] =
    emb.filter(col("vec_id") < n)
      .select(col("vec_id"), col("embedding")).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).map(_.toDouble).toSeq))
      .toSeq.sortBy(_._1)

  /** The single-query top-k surfaces' query vector: the head of vec_id 0. */
  private def queryVec0(emb: DataFrame): Seq[Double] = fixedQueryVecs(emb, 1).head._2

  /** One fanned-out, eagerly `localCheckpoint`ed (doc_id, text) frame for
    * the incremental-dedup queries: their corpus and delta sides otherwise
    * each re-decode the whole single-split parquet text column serially
    * (~1.1 s single-task scan apiece at sf0.1 — the %5 filter can't push
    * below the page decode). Same rows either way. */
  private def checkpointedDocs(s: SparkSession, dir: String): DataFrame =
    Par.fanOut(t(s, dir, "documents").select(col("doc_id"), col("text")))
      .localCheckpoint()

  /** The incremental-dedup split: the corpus (doc_id % 5 != 4) indexed
    * once into a fresh minhash band-key index, returned as (index dir,
    * delta = doc_id % 5 == 4). The delta reads the shared checkpoint
    * lazily, so its blocks stay cached after the query returns; the
    * caller's [[Sessions.sweep]] releases them. */
  private def indexedCorpusDelta(s: SparkSession, dir: String): (String, DataFrame) = {
    val docs = checkpointedDocs(s, dir)
    val idx = tmpDir("graft_mh_idx")
    Dedup.buildMinhashIndex(docs.filter(col("doc_id") % 5 =!= 4), "doc_id", "text", idx)
    (idx, docs.filter(col("doc_id") % 5 === 4))
  }

  /** Unpersists every RDD persisted in `s` since the id set `before` was
    * taken — for a query whose result reads none of them. */
  private def unpersistSince(s: SparkSession, before: collection.Set[Int]): Unit =
    s.sparkContext.getPersistentRDDs.foreach { case (id, rdd) =>
      if (!before(id)) rdd.unpersist(blocking = false)
    }

  /** The kgd per-doc support projection (turn = doc), shared by the batch
    * and the streamed support surfaces. */
  private def supportCols: Seq[Column] =
    Seq(col("turn_idx").cast("long").as("doc_id"), col("source"),
      col("code"), col("cui"), col("concept_name"), col("text"),
      col("total_count"), col("unique_count"),
      round(col("confidence"), 6).as("confidence"),
      col("icd10_code"), col("icd10_name"))

  // the kgd_link projection, shared by the on-the-fly and persisted-index
  // linking paths
  private def linkCols: Seq[Column] =
    Seq(col("surface"), col("cui"), col("sab"), col("code"), col("str"),
      round(col("score"), 6).as("score"), col("rn"), col("selected"))

  /** The documents corpus through the KG chain as far as linking. */
  private def kgdLinked(docs: DataFrame): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    Pipeline.linked(sources.DocCorpus.turns(docs), sources.DocCorpus.gaz.toArray,
      sources.DocCorpus.gaz.toDF())
  }

  /** Flagship: full KG construction — transcripts to triples, through the
    * production path end to end: stage tables (extraction runs once) and
    * the resumable bucketed GraphSink, returning the sink READ-BACK. */
  def entry(spark: SparkSession): DataFrame = {
    val dir = tmpDir("graft_entry")
    val stage = tmpDir("graft_stage")
    // writeResumable consumes the staged tables; the sink dir must outlive
    // the returned (lazy) read-back — both clean up at JVM exit
    GraphSink.writeResumable(
      Pipeline.triplesStaged(spark, cfgOf("sf0.001"), stage).toDF(), dir, runId = "entry")
    // the sink write consumed the stage; drop its catalog entries so the
    // session doesn't accumulate stale tables over temp dirs
    Pipeline.dropStageTables(spark, stage)
    GraphSink.readTriples(spark, dir)
  }

  // ------------------------------------------------------ shared oracle SQL

  // --- kgd oracle building blocks (see graft.sources.DocCorpus): over the
  // single-space closed-vocabulary corpus, token-occurrence counts equal
  // substring counts, so the whole NER/linking/agg algebra is arithmetic ---
  private def occ(s: String): String =
    s"(length(text) - length(replace(text, '$s', ''))) // ${s.length}"

  // per-doc ensemble mention counts; n(data) subtracts the longest-match-
  // suppressed occurrences inside 'data column'
  private val kgdCounts: String =
    s"""c AS (SELECT doc_id, lang,
       |  CAST(${occ("data column")} AS BIGINT) AS n_dc,
       |  CAST(${occ("data")} - ${occ("data column")} AS BIGINT) AS n_data,
       |  CAST(${occ("merge")} AS BIGINT) AS n_merge,
       |  CAST(${occ("stream")} AS BIGINT) AS n_stream,
       |  CAST(${occ("window")} AS BIGINT) AS n_window
       |FROM documents)""".stripMargin

  // per-doc per-concept support: preferred concepts found by all 3 ensemble
  // rounds; 'stream' (ISPREF='N') missed by the preferred-only round -> 2
  private val kgdSup: String =
    """sup AS (
      |  SELECT doc_id, lang, 'D100' AS code, 'CD000001' AS cui, 'data' AS cname,
      |    'data' AS stext, 3*n_data AS total_count, 3 AS unique_count,
      |    'A10.1' AS icd10_code, 'icd alpha' AS icd10_name FROM c WHERE n_data > 0
      |  UNION ALL SELECT doc_id, lang, 'DC100', 'CD000005', 'data column',
      |    'data column', 3*n_dc, 3, NULL, NULL FROM c WHERE n_dc > 0
      |  UNION ALL SELECT doc_id, lang, 'M100', 'CD000002', 'merge', 'merge',
      |    3*n_merge, 3, NULL, NULL FROM c WHERE n_merge > 0
      |  UNION ALL SELECT doc_id, lang, 'W100', 'CD000003', 'window', 'window',
      |    3*n_window, 3, NULL, NULL FROM c WHERE n_window > 0
      |  UNION ALL SELECT doc_id, lang, 'S100', 'CD000004', 'stream processing',
      |    'stream', 2*n_stream, 2, 'B20.2', 'icd beta' FROM c WHERE n_stream > 0)""".stripMargin

  // the per-doc support table: kgd_support, and kgd_stream (stream ==
  // batch: the incremental run must produce exactly the batch table)
  private val kgdSupportSql: String =
    s"""WITH $kgdCounts, $kgdSup
       |SELECT CAST(doc_id AS BIGINT) AS doc_id, 'SNOMEDCT_US' AS source, code,
       |  cui, cname AS concept_name, stext AS text,
       |  CAST(total_count AS BIGINT) AS total_count,
       |  CAST(unique_count AS BIGINT) AS unique_count,
       |  round(unique_count / 3.0, 6) AS confidence, icd10_code, icd10_name
       |FROM sup""".stripMargin

  // span-table inputs: first substring occurrence (= instr) of one surface
  // per round over the newline-injected text (q22 convention)
  private val kgdSpans: String =
    """sp AS (
      |  SELECT doc_id, t.try_index, length(inj) AS L,
      |    instr(inj, CASE t.try_index WHEN 0 THEN 'data' WHEN 1 THEN 'window'
      |      ELSE 'query' END) AS p,
      |    CASE t.try_index WHEN 0 THEN 4 WHEN 1 THEN 6 ELSE 5 END AS slen,
      |    CASE t.try_index WHEN 0 THEN 'data' WHEN 1 THEN 'window'
      |      ELSE 'query' END AS sname
      |  FROM (SELECT doc_id, replace(text, ' merge ', chr(10)) AS inj
      |        FROM documents),
      |       (VALUES (0),(1),(2)) t(try_index))""".stripMargin

  // L1-L3 oracle: the idf scoring algebra over the literal DocCorpus
  // gazetteer, ranked exactly as the engine ranks (on the 9-dp score).
  // Shared verbatim by the on-the-fly and persisted-index paths — their
  // equality IS the index invariant.
  private val kgdLinkSql: String =
    s"""WITH $kgdCounts,
       |gaz(cui, sab, code, str) AS (VALUES
       |  ('CD000001','SNOMEDCT_US','D100','data'),
       |  ('CD000002','SNOMEDCT_US','M100','merge'),
       |  ('CD000003','SNOMEDCT_US','W100','window'),
       |  ('CD000004','SNOMEDCT_US','S100','stream'),
       |  ('CD000004','SNOMEDCT_US','S100','stream processing'),
       |  ('CD000005','SNOMEDCT_US','DC100','data column'),
       |  ('CD000001','ICD10CM','A10.1','icd alpha'),
       |  ('CD000004','ICD10CM','B20.2','icd beta')),
       |tok AS (SELECT DISTINCT cui, sab, code, str, t
       |        FROM gaz, unnest(string_split(str, ' ')) AS u(t)),
       |idf AS (SELECT t, ln(1 + 8.0 / count(*)) AS idf
       |        FROM (SELECT DISTINCT sab, code, str, t FROM tok) GROUP BY t),
       |surf(s) AS (
       |  SELECT 'data' WHERE EXISTS(SELECT 1 FROM c WHERE n_data > 0)
       |  UNION ALL SELECT 'data column' WHERE EXISTS(SELECT 1 FROM c WHERE n_dc > 0)
       |  UNION ALL SELECT 'merge' WHERE EXISTS(SELECT 1 FROM c WHERE n_merge > 0)
       |  UNION ALL SELECT 'stream' WHERE EXISTS(SELECT 1 FROM c WHERE n_stream > 0)
       |  UNION ALL SELECT 'window' WHERE EXISTS(SELECT 1 FROM c WHERE n_window > 0)),
       |qt AS (SELECT DISTINCT s, t FROM surf, unnest(string_split(s, ' ')) AS u(t)),
       |sc AS (
       |  SELECT qt.s AS surface, tok.cui, tok.sab, tok.code, tok.str,
       |    round(sum(idf.idf), 9) AS score9
       |  FROM qt JOIN tok ON qt.t = tok.t JOIN idf ON idf.t = qt.t
       |  GROUP BY 1, 2, 3, 4, 5),
       |rk AS (
       |  SELECT surface, cui, sab, code, str, round(score9, 6) AS score,
       |    CAST(row_number() OVER (PARTITION BY surface
       |      ORDER BY score9 DESC, length(str), code, sab) AS INTEGER) AS rn
       |  FROM sc)
       |SELECT surface, cui, sab, code, str, score, rn, (rn = 1) AS selected
       |FROM rk WHERE rn <= 10""".stripMargin

  // the O(n²) exact 3-shingle-Jaccard pair set (oracle-side only; the
  // Spark plans stay bucket-joined) — ONE text shared by both recall
  // surfaces (minhash banding, simhash blocking): both candidate paths are
  // held to the same exact answer
  private val exactJaccardPairsSql: String =
    """WITH sh AS (
      |  SELECT doc_id, list_distinct([w[i] || ' ' || w[i+1] || ' ' || w[i+2]
      |    for i in range(1, len(w) - 1)]) AS s
      |  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents)
      |  WHERE len(w) >= 3),
      |pj AS (
      |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
      |    len(list_intersect(a.s, b.s))::DOUBLE /
      |      (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))) AS j
      |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id)
      |SELECT id_a, id_b, round(j, 6) AS jaccard FROM pj WHERE j >= 0.5""".stripMargin

  // the supersede rule restated in SQL: a delta doc dies to any corpus
  // match, or to a smaller-id delta match; survivors are the rest. Shared
  // by dd_incremental_new and dd_stream (id-ordered micro-batches ⇒
  // arrival-order supersede == batch min-id rule)
  private val deltaSurvivorsSql: String = exactJaccardPairsSql.replace(
    "SELECT id_a, id_b, round(j, 6) AS jaccard FROM pj WHERE j >= 0.5",
    """, victims AS (
      |  SELECT id_b AS v FROM pj WHERE j >= 0.5 AND id_b % 5 = 4
      |  UNION
      |  SELECT id_a AS v FROM pj
      |  WHERE j >= 0.5 AND id_a % 5 = 4 AND id_b % 5 <> 4)
      |SELECT CAST(doc_id AS BIGINT) AS doc_id FROM documents
      |WHERE doc_id % 5 = 4 AND doc_id NOT IN (SELECT v FROM victims)""".stripMargin)

  // every embedding pair's 6-dp cosine by DuckDB's own O(n²) arithmetic:
  // the exact side of both embedding near-dup surfaces
  private val cosinePairsSql: String =
    """SELECT a.vec_id AS id_a, b.vec_id AS id_b,
      |  round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
      |    CAST(b.embedding AS DOUBLE[])), 6) AS cos
      |FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id""".stripMargin

  // the exact top-5 by cosine to vec_id 0: every lossless top-5 surface
  // (brute force, full-probe IVF, the persisted IVF/LSH indexes at full
  // probing, the SQL-registered kernel) is held to this one answer
  private val exactTop5CosineSql: String =
    """SELECT e.vec_id,
      |round(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
      |  (SELECT CAST(embedding AS DOUBLE[]) FROM embeddings WHERE vec_id = 0)), 6) AS cos
      |FROM embeddings e ORDER BY cos DESC, vec_id ASC LIMIT 5""".stripMargin

  // recall DETAIL oracles: the exact top-5 lists — the recall DENOMINATOR
  // — are COMPUTED here by DuckDB's own window top-5 over
  // list_cosine_similarity (rank on the 6dp-rounded cosine, ties by
  // vec_id, exactly the Spark side's ordering); only the hit flags (which
  // exact neighbors the pruned probe found) are the measured pin, because
  // DuckDB cannot reproduce the probe sets. An exact-side drift on EITHER
  // engine reddens the row on DuckDB's arithmetic, not on a self-measured
  // literal.
  private def recallOracleSql(hitPairs: String): String =
    s"""WITH q AS (
      |  SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
      |  FROM embeddings WHERE vec_id < 20),
      |top5 AS (
      |  SELECT q.query_id, e.vec_id,
      |    round(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), q.qv), 6) AS cos,
      |    row_number() OVER (PARTITION BY q.query_id
      |      ORDER BY round(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), q.qv), 6) DESC,
      |        e.vec_id ASC) AS rn
      |  FROM embeddings e CROSS JOIN q)
      |SELECT t.query_id, t.vec_id, t.cos,
      |  CAST(CASE WHEN h.query_id IS NOT NULL THEN 1 ELSE 0 END AS INTEGER) AS hit
      |FROM top5 t LEFT JOIN (VALUES $hitPairs) AS h(query_id, vec_id)
      |  ON t.query_id = h.query_id AND t.vec_id = h.vec_id
      |WHERE t.rn <= 5""".stripMargin

  /** The measured hit pins of the two ANN recall surfaces at sf0.01
    * (query_id, exact-top-5 neighbor the pruned probe found) — IVF
    * nProbe=4: 65/100 hits (mean recall 0.65); LSH probeHamming=2: 31/100
    * (0.31). Everything else in those oracles is DuckDB-computed. */
  private val ivfHitPairs =
    "(10,272),(6,350),(6,437),(14,147),(3,3),(14,298),(15,59),(0,387)," +
      "(2,145),(6,145),(8,138),(14,271),(7,425),(17,115),(11,20),(12,12)," +
      "(17,416),(1,195),(2,117),(11,399),(16,402),(13,13),(2,2),(19,54)," +
      "(3,174),(0,0),(7,7),(9,489),(11,11),(2,450),(4,4),(4,114),(17,135)," +
      "(18,18),(7,209),(19,19),(7,334),(10,313),(8,497),(16,16),(10,10)," +
      "(0,423),(5,5),(6,6),(8,39),(12,402),(17,197),(14,14),(9,9),(18,181)," +
      "(8,403),(15,424),(15,436),(10,233),(15,15),(1,1),(12,127),(19,317)," +
      "(0,365),(8,8),(17,17),(18,263),(13,440),(13,430),(19,87)"
  private val lshHitPairs =
    "(3,3),(12,12),(1,407),(13,13),(2,2),(19,54),(3,174),(0,0),(7,7)," +
      "(9,489),(11,11),(4,4),(4,114),(18,18),(19,19),(16,16),(10,10)," +
      "(5,5),(6,6),(12,402),(14,14),(9,9),(18,181),(0,334),(5,157)," +
      "(15,15),(1,1),(0,365),(8,8),(17,17),(19,87)"

  // DuckDB restatements of the TextAnalysis column expressions: whitespace
  // token count, stopword hits, the 2% stopword-ratio language gate and
  // the length/alpha/stopword quality blend
  private val wsTokens =
    """len(list_filter(string_split_regex(text, '\s+'), x -> len(x) > 0))"""
  private val stopHits =
    """len(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
      |  w -> w IN ('the','of','and','a','to','in')))""".stripMargin
  private val langIdEn =
    s"""CASE WHEN $wsTokens > 0
       |  AND $stopHits / CAST($wsTokens AS DOUBLE) >= 0.02
       |THEN 'en' ELSE 'other' END""".stripMargin
  private val qualityScore =
    s"""round((
       |  least(length(text) / 500.0, 1.0) +
       |  CASE WHEN length(text) > 0 THEN
       |    CAST(length(regexp_replace(lower(text), '[^a-z]', '', 'g')) AS DOUBLE) / length(text)
       |  ELSE 0.0 END +
       |  CASE WHEN $wsTokens > 0 THEN
       |    least($stopHits / CAST($wsTokens AS DOUBLE) * 10.0, 1.0)
       |  ELSE 0.0 END) / 3.0, 6)""".stripMargin

  // gap-based sessionization (30-min inactivity splits sessions) over an
  // events-shaped table: q20's body runs it in Spark SQL, its oracle in
  // DuckDB
  private def sessionizeSql(table: String): String =
    s"""SELECT user_id, CAST(max(session_id) AS BIGINT) AS n_sessions FROM (
       |  SELECT user_id, sum(new_sess) OVER (
       |    PARTITION BY user_id ORDER BY ts, event_id) AS session_id
       |  FROM (
       |    SELECT user_id, ts, event_id,
       |      CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
       |             IS NULL
       |           OR ts > lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
       |             + INTERVAL 30 MINUTE
       |      THEN 1 ELSE 0 END AS new_sess
       |    FROM $table))
       |GROUP BY 1""".stripMargin

  // --------------------------------------------------------------- registry

  /** One driver-contract query: its name, the DuckDB SQL that must
    * reproduce its rows (None for the non-SQL outputs), and its body
    * over (session, sf dir). */
  private[graft] final case class Query(name: String, oracle: Option[String],
      body: (SparkSession, String) => DataFrame)

  private val registry: Seq[Query] = Seq(

    // ---- SQL-oracle operator queries (SURVEY.md §2 inventory) ----

    // A1/A3: two-phase hash agg with distinct agg
    Query("q01_agg", Some(
      """SELECT l_returnflag, l_linestatus, round(sum(l_quantity), 2) AS sum_qty,
        |count(*) AS cnt, count(DISTINCT l_orderkey) AS n_orders
        |FROM lineitem GROUP BY 1, 2""".stripMargin), (s, dir) =>
      t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(round(sum(col("l_quantity")), 2).as("sum_qty"),
          count(lit(1)).as("cnt"),
          countDistinct(col("l_orderkey")).as("n_orders"))),

    // P1/P3: predicate + projection (pushed to the parquet scan)
    Query("q02_filter_project", Some(
      """SELECT l_orderkey, l_linenumber, round(l_extendedprice, 2) AS price
        |FROM lineitem WHERE l_quantity < 5 AND l_discount > 0.05""".stripMargin), (s, dir) =>
      t(s, dir, "lineitem")
        .filter(col("l_quantity") < 5 && col("l_discount") > 0.05)
        .select(col("l_orderkey"), col("l_linenumber"),
          round(col("l_extendedprice"), 2).as("price"))),

    // J1: broadcast hash join, dimension side hinted
    Query("q03_broadcast_join", Some(
      """SELECT c_mktsegment, count(*) AS n, round(sum(o_totalprice), 2) AS rev
        |FROM orders JOIN customer ON o_custkey = c_custkey GROUP BY 1""".stripMargin), (s, dir) =>
      t(s, dir, "orders").join(broadcast(t(s, dir, "customer")),
          col("o_custkey") === col("c_custkey"))
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n"), round(sum(col("o_totalprice")), 2).as("rev"))),

    // J2: chained lookups (fact -> orders -> customer -> nation crosswalk)
    Query("q04_two_hop_join", Some(
      """SELECT n_name, count(*) AS n, round(sum(l_extendedprice), 2) AS rev
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey GROUP BY 1""".stripMargin), (s, dir) =>
      t(s, dir, "lineitem")
        .join(t(s, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(t(s, dir, "customer")), col("o_custkey") === col("c_custkey"))
        .join(broadcast(t(s, dir, "nation")), col("c_nationkey") === col("n_nationkey"))
        .groupBy(col("n_name"))
        .agg(count(lit(1)).as("n"), round(sum(col("l_extendedprice")), 2).as("rev"))),

    // W4/J4: latest-per-key (supersede semantics)
    Query("q05_latest_per_key", Some(
      """SELECT user_id, event_id, event_type FROM (
        |  SELECT user_id, event_id, event_type,
        |         row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
        |  FROM events) WHERE rn = 1""".stripMargin), (s, dir) => {
      val w = Window.partitionBy("user_id").orderBy(col("ts").desc, col("event_id").desc)
      t(s, dir, "events").withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("user_id"), col("event_id"), col("event_type"))
    }),

    // W5/O3: top-k per group
    Query("q06_topk_per_group", Some(
      """SELECT event_type, rn, event_id, round(value, 4) AS v FROM (
        |  SELECT event_type, event_id, value,
        |         row_number() OVER (PARTITION BY event_type ORDER BY value DESC, event_id ASC) AS rn
        |  FROM events) WHERE rn <= 3""".stripMargin), (s, dir) => {
      val w = Window.partitionBy("event_type").orderBy(col("value").desc, col("event_id").asc)
      t(s, dir, "events").withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 3)
        .select(col("event_type"), col("rn"), col("event_id"), round(col("value"), 4).as("v"))
    }),

    // W2: running offset (the global char-offset splice analogue)
    Query("q07_running_offset", Some(
      """SELECT doc_id, lang,
        |CAST(coalesce(sum(n_chars + 2) OVER (PARTITION BY lang ORDER BY doc_id
        |  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS offset
        |FROM documents""".stripMargin), (s, dir) => {
      val w = Window.partitionBy("lang").orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
      t(s, dir, "documents")
        .select(col("doc_id"), col("lang"),
          coalesce(sum(col("n_chars") + lit(2)).over(w), lit(0)).cast("long").as("offset"))
    }),

    // W6/J5: lag transition pairing (replies_to analogue)
    Query("q08_lag_transition", Some(
      """SELECT prev_type, event_type, count(*) AS n FROM (
        |  SELECT event_type,
        |         lag(event_type, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_type
        |  FROM events) WHERE prev_type IS NOT NULL GROUP BY 1, 2""".stripMargin), (s, dir) => {
      val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      t(s, dir, "events")
        .withColumn("prev_type", lag(col("event_type"), 1).over(w))
        .filter(col("prev_type").isNotNull)
        .groupBy(col("prev_type"), col("event_type"))
        .agg(count(lit(1)).as("n"))
    }),

    // U1/U2: tagged union of per-model predictions
    Query("q09_union", Some(
      """SELECT model_id, event_type, count(*) AS n FROM (
        |  SELECT event_type, 0 AS model_id FROM events WHERE value > 50
        |  UNION ALL
        |  SELECT event_type, 1 AS model_id FROM events WHERE event_type = 'click'
        |) GROUP BY 1, 2""".stripMargin), (s, dir) => {
      val e = t(s, dir, "events")
      e.filter(col("value") > 50).withColumn("model_id", lit(0))
        .unionByName(e.filter(col("event_type") === "click").withColumn("model_id", lit(1)))
        .groupBy(col("model_id"), col("event_type")).agg(count(lit(1)).as("n"))
    }),

    // U3/J4: anti join (resume: not-yet-processed); the totalprice filter
    // keeps the result non-degenerate at every sf (all customers have
    // SOME order in this data)
    Query("q10_anti_join", Some(
      """SELECT c_nationkey, count(*) AS n FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders
        |  WHERE o_custkey = c_custkey AND o_totalprice > 400000)
        |GROUP BY 1""".stripMargin), (s, dir) =>
      t(s, dir, "customer")
        .join(t(s, dir, "orders").filter(col("o_totalprice") > 400000),
          col("c_custkey") === col("o_custkey"), "left_anti")
        .groupBy(col("c_nationkey")).agg(count(lit(1)).as("n"))),

    // A1 unique: distinct aggregation
    Query("q11_distinct_agg", Some(
      """SELECT event_type, count(DISTINCT user_id) AS n_users,
        |round(avg(value), 4) AS avg_v FROM events GROUP BY 1""".stripMargin), (s, dir) =>
      t(s, dir, "events").groupBy(col("event_type"))
        .agg(countDistinct(col("user_id")).as("n_users"),
          round(avg(col("value")), 4).as("avg_v"))),

    // P2: preferred-term ranking (CASE priority + row_number)
    Query("q12_preferred_rank", Some(
      """SELECT l_orderkey, l_partkey, l_linenumber FROM (
        |  SELECT l_orderkey, l_partkey, l_linenumber,
        |         row_number() OVER (PARTITION BY l_orderkey ORDER BY
        |           CASE WHEN l_returnflag = 'R' THEN 0 WHEN l_returnflag = 'A' THEN 1 ELSE 2 END,
        |           l_linenumber, l_partkey) AS rn
        |  FROM lineitem) WHERE rn = 1""".stripMargin), (s, dir) => {
      val pri = when(col("l_returnflag") === "R", 0)
        .when(col("l_returnflag") === "A", 1).otherwise(2)
      // l_linenumber is NOT unique per order in this synthetic data —
      // l_partkey completes the deterministic tie-break
      val w = Window.partitionBy("l_orderkey")
        .orderBy(col("pri"), col("l_linenumber"), col("l_partkey"))
      t(s, dir, "lineitem").withColumn("pri", pri)
        .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
        .select(col("l_orderkey"), col("l_partkey"), col("l_linenumber"))
    }),

    // J3: interval self-join (span-overlap analogue on event times)
    Query("q13_interval_selfjoin", Some(
      """SELECT a.event_type AS a_type, b.event_type AS b_type, count(*) AS n
        |FROM events a JOIN events b ON a.user_id = b.user_id
        |AND b.ts > a.ts AND b.ts <= a.ts + INTERVAL 5 MINUTE
        |GROUP BY 1, 2""".stripMargin), (s, dir) => {
      val e = t(s, dir, "events")
      val a = e.select(col("user_id"), col("ts").as("a_ts"), col("event_type").as("a_type"))
      val b = e.select(col("user_id"), col("ts").as("b_ts"), col("event_type").as("b_type"))
      a.join(b, Seq("user_id"))
        .filter(col("b_ts") > col("a_ts") &&
          col("b_ts") <= col("a_ts") + expr("INTERVAL 5 MINUTES"))
        .groupBy(col("a_type"), col("b_type")).agg(count(lit(1)).as("n"))
    }),

    // P7: completeness predicate (all types present per key). The
    // distinct-type total joins in as a broadcast single row — one job, no
    // driver-side .head() barrier between counting and filtering
    Query("q14_completeness", Some(
      """SELECT count(*) AS n_complete_users FROM (
        |  SELECT user_id FROM events GROUP BY user_id
        |  HAVING count(DISTINCT event_type) = (SELECT count(DISTINCT event_type) FROM events))""".stripMargin),
      (s, dir) => {
      val e = t(s, dir, "events")
      val total = e.agg(countDistinct(col("event_type")).as("total"))
      e.groupBy(col("user_id"))
        .agg(countDistinct(col("event_type")).as("nt"))
        .join(broadcast(total), col("nt") === col("total"))
        .agg(count(lit(1)).as("n_complete_users"))
    }),

    // A3 rollup: hierarchy subtotals
    Query("q15_rollup", Some(
      """SELECT r_name, n_name, count(*) AS n, round(sum(c_acctbal), 2) AS bal
        |FROM customer JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY ROLLUP (r_name, n_name)""".stripMargin), (s, dir) =>
      t(s, dir, "customer")
        .join(broadcast(t(s, dir, "nation")), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(t(s, dir, "region")), col("n_regionkey") === col("r_regionkey"))
        .rollup(col("r_name"), col("n_name"))
        .agg(count(lit(1)).as("n"), round(sum(col("c_acctbal")), 2).as("bal"))),

    // U: intersect (SURVEY §2.7)
    Query("q16_intersect", Some(
      """SELECT user_id FROM events WHERE event_type = 'click'
        |INTERSECT
        |SELECT user_id FROM events WHERE value > 50""".stripMargin), (s, dir) => {
      val e = t(s, dir, "events")
      e.filter(col("event_type") === "click").select(col("user_id"))
        .intersect(e.filter(col("value") > 50).select(col("user_id")))
    }),

    // P7/J4 family: left-semi join
    Query("q17_semi_join", Some(
      """SELECT c_nationkey, count(*) AS n FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        |GROUP BY 1""".stripMargin), (s, dir) =>
      t(s, dir, "customer")
        .join(t(s, dir, "orders"), col("c_custkey") === col("o_custkey"), "left_semi")
        .groupBy(col("c_nationkey")).agg(count(lit(1)).as("n"))),

    // A7: conditional aggregation (progress counters)
    Query("q18_conditional_agg", Some(
      """SELECT event_type,
        |CAST(sum(CASE WHEN value > 50 THEN 1 ELSE 0 END) AS BIGINT) AS n_high,
        |count(*) AS n FROM events GROUP BY 1""".stripMargin), (s, dir) =>
      t(s, dir, "events").groupBy(col("event_type"))
        .agg(sum(when(col("value") > 50, 1).otherwise(0)).as("n_high"),
          count(lit(1)).as("n"))),

    // §4 skew: salted two-phase aggregation — same result as the direct
    // groupBy (the oracle IS the direct groupBy), hot keys spread over 16
    // partial reducers
    Query("q19_salted_agg", Some(
      """SELECT event_type, count(*) AS n, round(sum(value), 2) AS sum_v
        |FROM events GROUP BY 1""".stripMargin), (s, dir) =>
      Skew.saltedCountSum(t(s, dir, "events"), Seq("event_type"), "event_id",
          "value", nSalts = 16)
        .select(col("event_type"), col("n"), round(col("sum_v"), 2).as("sum_v"))),

    // SQL API surface: the same engine drives plain SQL over registered
    // views — gap-based sessionization (30-min inactivity splits sessions);
    // the oracle is the same SQL over the DuckDB table
    Query("q20_sessionize", Some(sessionizeSql("events")), (s, dir) => {
      t(s, dir, "events").createOrReplaceTempView("events_v")
      s.sql(sessionizeSql("events_v"))
    }),

    // W2/§3.2: the global-offset SPLICE arithmetic over SQL-visible data —
    // per lang, documents ordered by doc_id are the artifact files laid end
    // to end with the reference's 8-char separator (app.py:1496-1523); the
    // "entity" is the first 'data' occurrence, located SQL-expressibly
    Query("q21_offset_splice", Some(
      """SELECT doc_id, lang, global_start, global_start + 4 AS global_end FROM (
        |  SELECT doc_id, lang,
        |    CAST(coalesce(sum(n_chars + 8) OVER (PARTITION BY lang ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      + instr(text, 'data') - 1 AS BIGINT) AS global_start,
        |    instr(text, 'data') AS pos
        |  FROM documents) WHERE pos > 0""".stripMargin), (s, dir) => {
      val w = Window.partitionBy("lang").orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
      t(s, dir, "documents")
        .withColumn("base_ind",
          coalesce(sum(col("n_chars") + lit(8)).over(w), lit(0)).cast("long"))
        .withColumn("pos", instr(col("text"), "data").cast("long"))
        .filter(col("pos") > 0)
        .select(col("doc_id"), col("lang"),
          (col("base_ind") + col("pos") - 1).as("global_start"),
          (col("base_ind") + col("pos") - 1 + lit(4)).as("global_end"))
    }),

    // F2: <NEW_LINE> escape + exact length recovery
    // (dhp_fhir_tool1_v1.py:245-246, app.py:1510-1519). Newlines are
    // injected deterministically (replace ' merge ' -> \n) because the
    // documents corpus itself is single-line; recovered_len must equal the
    // injected text's true length — the off-by-one risk SURVEY §7.4.4 pins
    Query("q22_newline_escape", Some(
      """SELECT doc_id,
        |  CAST((length(esc) - length(replace(esc, '<NEW_LINE>', ''))) // 10 AS BIGINT) AS n_newlines,
        |  CAST(length(esc) AS BIGINT) AS esc_len,
        |  CAST(length(esc) - (length(esc) - length(replace(esc, '<NEW_LINE>', ''))) // 10 * 9 AS BIGINT) AS recovered_len,
        |  CAST(length(injected) AS BIGINT) AS true_len
        |FROM (
        |  SELECT doc_id, replace(text, ' merge ', chr(10)) AS injected,
        |    replace(replace(text, ' merge ', chr(10)), chr(10), '<NEW_LINE>') AS esc
        |  FROM documents)""".stripMargin), (s, dir) => {
      val injected = regexp_replace(col("text"), " merge ", "\n")
      val esc = SpanTable.escapeNewlines(injected)
      t(s, dir, "documents")
        .select(col("doc_id"),
          SpanTable.newlineTokens(esc).cast("long").as("n_newlines"),
          length(esc).cast("long").as("esc_len"),
          SpanTable.origLen(esc).cast("long").as("recovered_len"),
          length(injected).cast("long").as("true_len"))
    }),

    // F10: artifact-name grammar with the reference's timestamp format
    // '%Y%m%d%H%M%S%f' (app.py:1183) — deterministic event ts, no uuid (F3)
    Query("q23_artifact_name", Some(
      """SELECT event_id, strftime(ts, '%Y%m%d%H%M%S%f') || '_medical_text_'
        |  || CAST(user_id AS VARCHAR) || '_' || CAST(event_id AS VARCHAR) AS artifact_name
        |FROM events WHERE event_id < 100""".stripMargin), (s, dir) =>
      t(s, dir, "events")
        .filter(col("event_id") < 100)
        .select(col("event_id"),
          concat(date_format(col("ts"), "yyyyMMddHHmmssSSSSSS"),
            lit("_medical_text_"), col("user_id"), lit("_"),
            col("event_id")).as("artifact_name"))),

    // U3 complement: EXCEPT (alongside q10's anti-join and q16's intersect);
    // the compound predicate keeps the result non-degenerate at every sf
    Query("q24_except", Some(
      """SELECT user_id FROM events WHERE event_type = 'click'
        |EXCEPT
        |SELECT user_id FROM events
        |WHERE event_type = 'purchase' AND value > 120""".stripMargin), (s, dir) => {
      val e = t(s, dir, "events")
      e.filter(col("event_type") === "click").select(col("user_id"))
        .except(e.filter(col("event_type") === "purchase" && col("value") > 120)
          .select(col("user_id")))
    }),

    // As-of join (the latest-pointer resolution generalized; DuckDB checks
    // it with its NATIVE ASOF JOIN): each click joins the user's most
    // recent at-or-before signup — |L|+|R| through one shuffle, never a
    // range-exploded self-join. The right side is deduped to one signup per
    // (user_id, ts) in BOTH engines: DuckDB's choice among equal-ts rows is
    // unspecified, so the compared semantics are tie-free by construction
    Query("q30_asof", Some(
      """SELECT a.event_id, b.event_id AS signup_event_id
        |FROM (SELECT * FROM events WHERE event_type = 'click') a
        |ASOF JOIN (SELECT user_id, ts, max(event_id) AS event_id FROM events
        |           WHERE event_type = 'signup' GROUP BY 1, 2) b
        |  ON a.user_id = b.user_id AND a.ts >= b.ts""".stripMargin), (s, dir) => {
      val e = t(s, dir, "events")
      val clicks = e.filter(col("event_type") === "click")
      val signups = e.filter(col("event_type") === "signup")
        .groupBy(col("user_id"), col("ts")).agg(max(col("event_id")).as("event_id"))
      AsOfJoin.asOf(clicks, signups, Seq("user_id"), "ts")
        .filter(col("asof").isNotNull)
        .select(col("event_id"), col("asof.event_id").as("signup_event_id"))
    }),

    // Banded range join (J3 generalized): interval-overlap pairs through an
    // equi-join on fixed-width bands + exact residual — never |group|²
    // width 0.2 keeps the intrinsic pair count (a property of the
    // predicate, identical for any implementation) ~4M at sf0.1
    Query("q31_range_join", Some(
      """SELECT a.event_type, count(*) AS n
        |FROM events a JOIN events b
        |  ON a.event_type = b.event_type AND a.event_id < b.event_id
        | AND a.value < b.value + 0.2 AND b.value < a.value + 0.2
        |GROUP BY 1""".stripMargin), (s, dir) => {
      val iv = t(s, dir, "events")
        .select(col("event_type"), col("event_id"),
          col("value").as("start"), (col("value") + 0.2).as("end"))
      RangeJoin.overlapPairs(iv, Seq("event_type"), "event_id",
          "start", "end", bandWidth = 0.2)
        .groupBy(col("event_type")).agg(count(lit(1)).as("n"))
    }),

    // F-family: fuzzy string distance (the MedCAT-style fuzzy-match
    // primitive) at the SQL surface — edit-distance histogram vs a probe
    Query("q26_fuzzy", Some(
      """SELECT levenshtein(p_name, 'forest green') AS d, count(*) AS n
        |FROM part GROUP BY 1""".stripMargin), (s, dir) =>
      t(s, dir, "part")
        .select(levenshtein(col("p_name"), lit("forest green")).as("d"))
        .groupBy(col("d")).agg(count(lit(1)).as("n"))),

    // A-family: CUBE grouping sets (all four (type, hi) marginals)
    Query("q27_cube", Some(
      """SELECT event_type, (value > 50) AS hi, count(*) AS n,
        |round(sum(value), 2) AS sum_v
        |FROM events GROUP BY CUBE (event_type, hi)""".stripMargin), (s, dir) =>
      t(s, dir, "events")
        .withColumn("hi", col("value") > 50)
        .cube(col("event_type"), col("hi"))
        .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("sum_v"))),

    // A-family: exact interpolated percentiles per group
    Query("q28_percentile", Some(
      """SELECT event_type, round(quantile_cont(value, 0.5), 4) AS p50,
        |round(quantile_cont(value, 0.9), 4) AS p90
        |FROM events GROUP BY 1""".stripMargin), (s, dir) =>
      t(s, dir, "events").groupBy(col("event_type"))
        .agg(round(expr("percentile(value, 0.5)"), 4).as("p50"),
          round(expr("percentile(value, 0.9)"), 4).as("p90"))),

    // F-family: array ops over tokenized text (distinct-vocabulary size)
    Query("q29_distinct_words", Some(
      """SELECT doc_id, len(list_distinct(list_filter(
        |  string_split_regex(lower(text), '[^a-z0-9]+'), w -> len(w) > 0)))
        |  AS n_distinct_words
        |FROM documents""".stripMargin), (s, dir) =>
      t(s, dir, "documents").select(col("doc_id"),
        size(array_distinct(filter(split(lower(col("text")), "[^a-z0-9]+"),
          w => length(w) > 0))).as("n_distinct_words"))),

    // composed curation pipeline (the training-data shape: exact-dedup to
    // canonical docs -> language gate -> quality gate -> per-source stats),
    // every stage a column expression over one scan + one dedup groupBy
    Query("q25_curate", Some(
      s"""SELECT source, count(*) AS n, round(avg(q), 4) AS avg_q FROM (
         |  SELECT source, $qualityScore AS q,
         |    $langIdEn AS lang_pred
         |  FROM documents
         |  WHERE doc_id IN (SELECT min(doc_id) FROM documents GROUP BY md5(text)))
         |WHERE lang_pred = 'en' AND q >= 0.6
         |GROUP BY 1""".stripMargin), (s, dir) => {
      val d = t(s, dir, "documents")
      val canon = d.groupBy(md5(col("text")).as("h"))
        .agg(min(col("doc_id")).as("doc_id"))
        .select("doc_id")
      d.join(canon, "doc_id")
        .filter(TextAnalysis.langIdHeuristic(col("text")) === "en" &&
          TextAnalysis.qualityScore(col("text")) >= 0.6)
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n"),
          round(avg(TextAnalysis.qualityScore(col("text"))), 4).as("avg_q"))
    }),

    // the injected SQL surface: the native codegen'd cosine kernel invoked
    // by NAME from plain SQL (SparkSessionExtensions / registerAll)
    Query("q32_sql_fn", Some(exactTop5CosineSql), (s, dir) => {
      graft.functions.GraftFunctions.registerAll(s) // idempotent
      t(s, dir, "embeddings").createOrReplaceTempView("emb_v")
      s.sql(
        """SELECT vec_id, round(graft_cosine(embedding,
          |  (SELECT embedding FROM emb_v WHERE vec_id = 0)), 6) AS cos
          |FROM emb_v ORDER BY cos DESC, vec_id ASC LIMIT 5""".stripMargin)
    }),

    // A1-at-scale: HLL approximate distinct (the 10^12-row option SURVEY
    // §2.4 names) gated against the exact count — `approx_ok` flips false
    // (and the oracle compare red) if the sketch drifts past 5%
    Query("q33_approx_distinct", Some(
      """SELECT event_type, count(DISTINCT user_id) AS n_exact,
        |true AS approx_ok FROM events GROUP BY 1""".stripMargin), (s, dir) =>
      t(s, dir, "events").groupBy(col("event_type"))
        .agg(countDistinct(col("user_id")).as("n_exact"),
          (abs(approx_count_distinct(col("user_id"), 0.02) -
              countDistinct(col("user_id"))) <=
            countDistinct(col("user_id")).cast("double") * lit(0.05))
            .as("approx_ok"))),

    // ---- training-data ops: dedup / text / similarity ----

    Query("dd_exact", Some(
      """SELECT md5(text) AS text_hash, min(doc_id) AS canonical_id,
        |count(*) AS dup_count FROM documents GROUP BY 1""".stripMargin), (s, dir) =>
      Dedup.exact(t(s, dir, "documents"), "doc_id", "text")),

    Query("txt_tokens", Some(
      raw"""SELECT doc_id,
        |$wsTokens AS ws_tokens,
        |len(regexp_extract_all(lower(text), '[a-z0-9]+|[^a-z0-9\s]')) AS bpe_tokens
        |FROM documents""".stripMargin), (s, dir) =>
      t(s, dir, "documents").select(col("doc_id"),
        TextAnalysis.wsTokenCount(col("text")).as("ws_tokens"),
        TextAnalysis.bpeishTokenCount(col("text")).as("bpe_tokens"))),

    Query("txt_langid", Some(
      s"""SELECT lang_pred, count(*) AS n FROM (
         |  SELECT $langIdEn AS lang_pred FROM documents) GROUP BY 1""".stripMargin), (s, dir) =>
      t(s, dir, "documents")
        .select(col("doc_id"), TextAnalysis.langIdHeuristic(col("text")).as("lang_pred"))
        .groupBy(col("lang_pred")).agg(count(lit(1)).as("n"))),

    Query("txt_quality", Some(s"SELECT doc_id, $qualityScore AS quality\nFROM documents"),
      (s, dir) =>
      t(s, dir, "documents").select(col("doc_id"),
        TextAnalysis.qualityScore(col("text")).as("quality"))),

    Query("txt_fingerprint", Some(
      """SELECT source, count(DISTINCT md5(regexp_replace(trim(lower(text)), '\s+', ' ', 'g'))) AS n_distinct,
        |count(*) AS n FROM documents GROUP BY 1""".stripMargin), (s, dir) =>
      t(s, dir, "documents").select(col("source"),
        TextAnalysis.fingerprint(col("text")).as("fp"))
        .groupBy(col("source"))
        .agg(countDistinct(col("fp")).as("n_distinct"), count(lit(1)).as("n"))),

    Query("sim_topk", Some(exactTop5CosineSql), (s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.bruteForceTopK(emb, "vec_id", "embedding", queryVec0(emb), 5)
    }),

    // embedding-cosine near-dup: exact pairs (oracle-checked baseline)
    Query("dd_embed_neardup", Some(s"SELECT id_a, id_b, cos FROM ($cosinePairsSql)\nWHERE cos >= 0.4"),
      (s, dir) =>
      Similarity.cosineExactPairs(t(s, dir, "embeddings"), "vec_id", "embedding", 0.4)),

    // multimodal plumbing: resize + frame-sample plans are pure column math
    // over the synthesized assets table (oracle-checked)
    Query("mm_resize", Some(
      """SELECT asset_id, modality,
        |CAST(CASE WHEN modality = 'audio' THEN -1
        |  ELSE greatest(1, floor(width * s)) END AS INTEGER) AS out_width,
        |CAST(CASE WHEN modality = 'audio' THEN -1
        |  ELSE greatest(1, floor(height * s)) END AS INTEGER) AS out_height
        |FROM (
        |  SELECT asset_id, modality, width, height,
        |    least(1.0, 256 / CAST(greatest(width, height) AS DOUBLE)) AS s
        |  FROM (
        |    SELECT CAST(doc_id AS BIGINT) AS asset_id,
        |      CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'image'
        |        WHEN 1 THEN 'audio' ELSE 'video' END AS modality,
        |      64 + (doc_id % 16) * 32 AS width,
        |      64 + ((doc_id * 7) % 16) * 32 AS height
        |    FROM documents))""".stripMargin), (s, dir) =>
      Multimodal.resizeMeta(Multimodal.synthAssets(t(s, dir, "documents")), 256)
        .select(col("asset_id"), col("modality"), col("out_width"), col("out_height"))),
    Query("mm_frames", Some(
      """SELECT CAST(doc_id AS BIGINT) AS asset_id,
        |CAST(CASE WHEN doc_id % 3 = 2 THEN ((8 + doc_id % 120) - 1) // 4 + 1
        |  ELSE 0 END AS INTEGER) AS n_sampled
        |FROM documents""".stripMargin), (s, dir) =>
      Multimodal.frameSamplePlan(Multimodal.synthAssets(t(s, dir, "documents")), 4)
        .select(col("asset_id"), size(col("frame_ids")).as("n_sampled"))),

    // rows-only (non-SQL-expressible): LSH / signature / stubbed-decode ops
    Query("sim_lsh_topk", None, (s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.annTopK(emb, "vec_id", "embedding", queryVec0(emb), 5, Lsh())
    }),
    Query("dd_minhash", None, (s, dir) =>
      Dedup.estimatePairs(t(s, dir, "documents"), "doc_id", "text", Minhash,
        threshold = 0.2)
        .orderBy("id_a", "id_b")),
    Query("dd_simhash", None, (s, dir) =>
      Dedup.estimatePairs(t(s, dir, "documents"), "doc_id", "text", Simhash(4),
        threshold = 12)
        .orderBy("id_a", "id_b")),
    // the rare-shingle inverted join is ALSO exact-recall on this corpus
    // (verified: no pair at J ≥ 0.05 is reachable only through shingles
    // with df > maxDf=100), so the same exact O(n²) oracle gates it at its
    // own threshold
    Query("dd_ngram_jaccard", Some(exactJaccardPairsSql.replace("j >= 0.5", "j >= 0.05")),
      (s, dir) =>
      Dedup.ngramJaccardPairs(t(s, dir, "documents"), "doc_id", "text",
        threshold = 0.05, maxDf = 100)
        .orderBy("id_a", "id_b")),
    // bits=4: near-orthogonal pairs (cos≈0.4 ⇒ per-bit agree p≈0.63) still
    // co-bucket with p≈0.16 — nonzero recall on this corpus; raise bits as
    // vectors get more clustered. Output is every EXACT pair (id_a, id_b,
    // cos — the recall denominator, recomputed INDEPENDENTLY by the DuckDB
    // oracle's own O(n²) cosine SQL, the same arithmetic as
    // dd_embed_neardup) full-outer-joined with the LSH-bucketed pairs as a
    // `found` flag: only the 11 found flags are a measured pin
    // (deterministic hyperplanes + fixed corpus; recall 11/59 = 0.19 at
    // this near-orthogonal threshold — honest, and documented rather than
    // implied). The FULL join makes a subset-of-exact violation visible to
    // the gate itself (a non-exact LSH pair would surface as a null-cos row
    // and redden the hash); SimilarityScaleSpec asserts subset
    // corpus-independently. Any change to the signature algebra reddens
    // this row until re-measured.
    Query("dd_embed_neardup_lsh", Some(
      s"""SELECT p.id_a, p.id_b, p.cos,
         |  CAST(CASE WHEN f.id_a IS NOT NULL THEN 1 ELSE 0 END AS INTEGER) AS found
         |FROM ($cosinePairsSql) p
         |LEFT JOIN (VALUES (7,425),(19,87),(83,310),(108,142),(159,202),
         |  (191,431),(205,485),(234,384),(253,385),(334,382),(387,388))
         |  AS f(id_a, id_b) ON p.id_a = f.id_a AND p.id_b = f.id_b
         |WHERE p.cos >= 0.4""".stripMargin), (s, dir) => {
      val emb = t(s, dir, "embeddings")
      val lsh = Similarity.cosineNearDupPairs(emb, "vec_id", "embedding",
          threshold = 0.4, bits = 4)
        .select(col("id_a"), col("id_b"), lit(1).as("found"))
      Similarity.cosineExactPairs(emb, "vec_id", "embedding", 0.4)
        .join(lsh, Seq("id_a", "id_b"), "full")
        .select(col("id_a"), col("id_b"), col("cos"),
          coalesce(col("found"), lit(0)).as("found"))
        .orderBy("id_a", "id_b")
    }),
    // held to the exact answer at FULL probing (the sim_ivf_indexed /
    // sim_lsh_indexed contract: assignment + rerank lose nothing); the
    // partial-probe pruned path is subset- and plan-asserted in VectorIndexSpec
    Query("sim_ivf_topk", Some(exactTop5CosineSql), (s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.annTopK(emb, "vec_id", "embedding", queryVec0(emb), 5,
        Ivf(nCentroids = 16, lloydIters = 0, nProbe = 16))
    }),
    // the full binary-payload plumbing (synthAssets → typed Dataset →
    // batched mapPartitions decode) driver-oracle-checked: the fake decode
    // kernel is restated in plain SQL over the byte values (f0 rounded to
    // 6 dp per row BEFORE the cross-row avg so double-summation order
    // can't flip the 6th decimal). Oracle: per doc (ASCII corpus ⇒ UTF-8
    // payload bytes == ascii codes), tap0 = Σ over byte positions
    // i ≡ 0 (mod 16) of (i/16 + 1)·byte_i,
    // f0 = float of ((tap0 mod 2^31)·2654435761 + 1 mod 2^31) / 2^31 · 2 − 1
    Query("mm_features", Some(
      """SELECT modality, count(*) AS n, round(avg(n_bytes), 3) AS avg_bytes,
        |  round(avg(f0), 6) AS avg_f0
        |FROM (
        |  SELECT
        |    CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'image'
        |      WHEN 1 THEN 'audio' ELSE 'video' END AS modality,
        |    CAST(length(text) AS BIGINT) AS n_bytes,
        |    round(CAST(CAST(CAST(
        |      ((CAST(coalesce(list_sum(
        |          [(i // 16 + 1) * ascii(text[i + 1])
        |           for i in range(0, length(text)) if i % 16 = 0]), 0) AS BIGINT)
        |        % 2147483648) * 2654435761 + 1) % 2147483648
        |      AS DOUBLE) / 2147483648 * 2 - 1 AS FLOAT) AS DOUBLE), 6) AS f0
        |  FROM documents)
        |GROUP BY 1""".stripMargin), (s, dir) => {
      import s.implicits._
      val assets = Multimodal.synthAssets(t(s, dir, "documents")).as[Multimodal.Asset]
      Multimodal.extractFeatures(assets).toDF()
        .groupBy(col("modality"))
        .agg(count(lit(1)).as("n"), round(avg(col("n_bytes")), 3).as("avg_bytes"),
          round(avg(round(element_at(col("features"), 1).cast("double"), 6)), 6)
            .as("avg_f0"))
    }),

    // LSH recall vs exact (Dedup.trueJaccardPairs scaladoc): the
    // Spark plan is band-bucketed (never all-pairs); the DuckDB oracle is
    // the O(n²) exact answer — equality certifies recall=1 end to end
    Query("dd_minhash_recall", Some(exactJaccardPairsSql), (s, dir) =>
      Dedup.trueJaccardPairs(t(s, dir, "documents"), "doc_id", "text", Minhash,
        trueThreshold = 0.5)
        .orderBy("id_a", "id_b")),

    // SimHash-blocking recall vs exact (Dedup.trueJaccardPairs
    // scaladoc): 8×8-bit blocks guarantee any pair within hamming ≤ 7
    // shares a block; the true near-dup pairs sit at hamming ≤ 5, so the
    // block-bucketed Spark plan must equal the O(n²) exact-Jaccard oracle
    // (the same oracle as dd_minhash_recall — both recall surfaces are held
    // to the same exact answer)
    Query("dd_simhash_recall", Some(exactJaccardPairsSql), (s, dir) =>
      Dedup.trueJaccardPairs(t(s, dir, "documents"), "doc_id", "text", Simhash(8),
        trueThreshold = 0.5)
        .orderBy("id_a", "id_b")),

    // keep-one-per-cluster dedup: CC over the verified near-dup pair graph
    // (transitive chains resolved); oracle = recursive-CTE closure over the
    // exact O(n²) pair set
    Query("dd_canonical", Some(
      """WITH RECURSIVE sh AS (
        |  SELECT doc_id, list_distinct([w[i] || ' ' || w[i+1] || ' ' || w[i+2]
        |    for i in range(1, len(w) - 1)]) AS s
        |  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents)
        |  WHERE len(w) >= 3),
        |pj AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
        |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        |  WHERE len(list_intersect(a.s, b.s))::DOUBLE /
        |    (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))) >= 0.5),
        |e AS (SELECT id_a AS a, id_b AS b FROM pj
        |      UNION ALL SELECT id_b AS a, id_a AS b FROM pj),
        |reach(id, r) AS (
        |  SELECT doc_id, doc_id FROM documents
        |  UNION
        |  SELECT reach.id, e.b FROM reach JOIN e ON e.a = reach.r)
        |SELECT CAST(id AS BIGINT) AS doc_id, CAST(min(r) AS BIGINT) AS canonical_id
        |FROM reach GROUP BY 1""".stripMargin), (s, dir) =>
      Dedup.canonicalByNearDup(t(s, dir, "documents"), "doc_id", "text")
        .select(col("doc_id").cast("long").as("doc_id"),
          col("canonical_id").cast("long").as("canonical_id"))
        .orderBy("doc_id")),

    // the STREAMING ingest loop over the same split: the delta arrives as
    // a real Structured-Streaming source in two id-ordered micro-batches,
    // each deduped vs the corpus index + every doc the stream has already
    // SEEN (accepted or not — dedup vs accepted-only would resurrect dup
    // chains across batch boundaries; see StreamingDedup's scaladoc and
    // StreamingDedupSpec's chain test) + itself (replay idempotence is
    // StreamingDedupSpec-tested). With id-ordered batches the arrival-order
    // supersede equals the batch min-id rule, so the accepted set is
    // gated by the SAME survivors SQL as dd_incremental_new
    Query("dd_stream", Some(deltaSurvivorsSql), (s, dir) => {
      import s.implicits._
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
      val persisted = s.sparkContext.getPersistentRDDs.keySet
      val docs = checkpointedDocs(s, dir)
      val (idx, out, ck) =
        (tmpDir("graft_sdd_idx"), tmpDir("graft_sdd_out"), tmpDir("graft_sdd_ck"))
      // the index build (corpus side) and the delta collect (stream-source
      // synthesis) are independent reads of the shared checkpoint — run
      // them as concurrent jobs; the stream starts only after both
      // complete.
      // bounded driver materialization: the delta is the stream SOURCE
      // being synthesized (id-sorted so batch boundaries are deterministic)
      var delta: Seq[(Long, String)] = null
      Par.concurrently(
        Dedup.buildMinhashIndex(
          docs.filter(col("doc_id") % 5 =!= 4), "doc_id", "text", idx),
        { delta = docs.filter(col("doc_id") % 5 === 4)
            .select(col("doc_id").cast("long"), col("text"))
            .as[(Long, String)].collect().sortBy(_._1).toSeq })
      val ms = org.apache.spark.sql.execution.streaming.runtime
        .MemoryStream[(Long, String)]
      val q = graft.streaming.StreamingDedup.start(
        ms.toDF().select($"_1".as("doc_id"), $"_2".as("text")), idx, out, ck)
      // stop in finally: a commitBatch failure must not leak a live
      // StreamingQuery (threads, listeners, checkpoint handles) into the
      // shared Verify/Bench session that keeps running other queries. The
      // result reads only the sink dir, so the blocks this query persisted
      // (the docs checkpoint, each micro-batch's probe checkpoint and
      // signatures) are released here too
      try {
        ms.addData(delta.take(delta.length / 2)); q.processAllAvailable()
        ms.addData(delta.drop(delta.length / 2)); q.processAllAvailable()
      } finally { q.stop(); unpersistSince(s, persisted) }
      graft.streaming.StreamingDedup.readAccepted(s, out)
        .select(col("doc_id").cast("long").as("doc_id"))
        .orderBy("doc_id")
    }),

    // incremental dedup against a persisted minhash band-key index
    // (the 100 TB shape: dedup a new batch against the corpus, never the
    // corpus against itself). corpus = doc_id % 5 != 4 indexed once;
    // delta = % 5 == 4 probed against it through a partition-pruned read
    // of only the delta's band-key shards (plan-asserted in DedupSpec).
    // The pair set must equal the BATCH exact-Jaccard pairs over
    // corpus ∪ delta restricted to pairs touching the delta — the same
    // O(n²) oracle SQL as the recall surfaces, kept to pairs with a delta
    // (doc_id % 5 = 4) side
    Query("dd_incremental", Some(exactJaccardPairsSql.replace("WHERE j >= 0.5",
        "WHERE j >= 0.5 AND (id_a % 5 = 4 OR id_b % 5 = 4)")), (s, dir) => {
      val (idx, delta) = indexedCorpusDelta(s, dir)
      Dedup.incrementalTrueJaccardPairs(s, idx, delta, "doc_id", "text")
        .select(col("id_a").cast("long").as("id_a"),
          col("id_b").cast("long").as("id_b"), col("jaccard"))
        .orderBy("id_a", "id_b")
    }),
    // the left_anti supersede last mile: delta docs that survive (no
    // verified match in the corpus, none to a smaller-id delta doc) —
    // the rule restated in plain SQL as the oracle
    Query("dd_incremental_new", Some(deltaSurvivorsSql), (s, dir) => {
      val (idx, delta) = indexedCorpusDelta(s, dir)
      Dedup.incrementalNewDocs(s, idx, delta, "doc_id", "text")
        .select(col("doc_id").cast("long").as("doc_id"))
        .orderBy("doc_id")
    }),

    // persisted IVF index: build once (assignments written partitionBy
    // ivf_cid + tiny codebook), serve queries from partition-pruned reads.
    // The DRIVER-checked invariant is losslessness (full probing == exact
    // top-k — the synthetic embeddings are near-random, so partial-probe
    // recall is corpus luck, not a property worth gating on); the PRUNED
    // path's plan (PartitionFilters + 2-of-16 partitions read) and its
    // subset-correctness are asserted in VectorIndexSpec
    Query("sim_ivf_indexed", Some(exactTop5CosineSql), (s, dir) => {
      val emb = t(s, dir, "embeddings")
      val idx = tmpDir("graft_ivf")
      Similarity.buildVectorIndex(emb, "vec_id", "embedding", idx, Ivf())
      Similarity.annTopKIndexed(s, idx, "vec_id", "embedding", queryVec0(emb), 5,
        Ivf(nProbe = 16))
    }),

    // persisted LSH signature index: signatures written once
    // partitionBy(lsh_prefix); the driver-checked invariant is
    // losslessness (full probing == exact top-k, the sim_ivf_indexed
    // contract); the pruned multi-probe path (partition-pruned plan +
    // equality with the in-flight annTopK) is asserted in VectorIndexSpec
    Query("sim_lsh_indexed", Some(exactTop5CosineSql), (s, dir) => {
      val emb = t(s, dir, "embeddings")
      val idx = tmpDir("graft_lshidx")
      Similarity.buildVectorIndex(emb, "vec_id", "embedding", idx, Lsh())
      Similarity.annTopKIndexed(s, idx, "vec_id", "embedding", queryVec0(emb), 5,
        Lsh(probeHamming = 12))
    }),

    // MEASURED recall@5 of the pruned ANN paths vs exact: 20 fixed queries
    // (vec_id < 20) served from the persisted indexes at the registered
    // pruning params — IVF nProbe=4 of 16 lists (codebook Lloyd-refined
    // once; refinement raised mean recall 0.55 → 0.65 at the same probe
    // count), LSH bits=12 probeHamming=2 (79 of 4096 buckets, ~3% measured
    // scan fraction; the full recall-vs-scan curve is a committed artifact,
    // bench_runs/r6_recall_curve.json). Output is the per-(query,
    // exact-top-5-neighbor) DETAIL: query_id, neighbor id, its cosine, and
    // a hit flag from the pruned probe. The exact lists — the recall
    // DENOMINATOR — are recomputed INDEPENDENTLY by the DuckDB oracle from
    // the raw vectors (recallOracleSql); only the 100 hit flags are a
    // measured pin (deterministic: fixed corpus + seeded index — on
    // isotropic random vectors this IS the information-theoretic regime for
    // sublinear ANN; clustered data prunes far better, VectorIndexSpec gates
    // Lloyd's non-decrease on a clustered corpus). Any drift in the
    // signature/codebook algebra OR in the exact-side cosine reddens these
    // rows until re-measured.
    Query("sim_ivf_recall", Some(recallOracleSql(ivfHitPairs)), (s, dir) => {
      val emb = t(s, dir, "embeddings")
      val idx = tmpDir("graft_ivf_rec")
      Similarity.buildVectorIndex(emb, "vec_id", "embedding", idx, Ivf())
      Similarity.recallIndexed(s, idx, "vec_id", "embedding",
        fixedQueryVecs(emb, 20), 5, Ivf(nProbe = 4), detail = true)
    }),
    Query("sim_lsh_recall", Some(recallOracleSql(lshHitPairs)), (s, dir) => {
      val emb = t(s, dir, "embeddings")
      val idx = tmpDir("graft_lsh_rec")
      Similarity.buildVectorIndex(emb, "vec_id", "embedding", idx, Lsh())
      Similarity.recallIndexed(s, idx, "vec_id", "embedding",
        fixedQueryVecs(emb, 20), 5, Lsh(probeHamming = 2), detail = true)
    }),

    // ---- KG pipeline over the SQL-visible documents table: the reference
    // §3.1 path (segment → 3-round ensemble NER → link/crosswalk → support
    // agg → triples) end to end with plain-SQL DuckDB oracles — see
    // graft.sources.DocCorpus for why each stage is SQL-predictable ----

    // M1/M2: per-(doc, round, concept) ensemble mention counts
    Query("kgd_mentions", Some(
      s"""WITH $kgdCounts
         |SELECT CAST(doc_id AS BIGINT) AS doc_id, t.try_index, 'D100' AS code,
         |  n_data AS n FROM c, (VALUES (0),(1),(2)) t(try_index) WHERE n_data > 0
         |UNION ALL SELECT CAST(doc_id AS BIGINT), t.try_index, 'DC100', n_dc
         |  FROM c, (VALUES (0),(1),(2)) t(try_index) WHERE n_dc > 0
         |UNION ALL SELECT CAST(doc_id AS BIGINT), t.try_index, 'M100', n_merge
         |  FROM c, (VALUES (0),(1),(2)) t(try_index) WHERE n_merge > 0
         |UNION ALL SELECT CAST(doc_id AS BIGINT), t.try_index, 'W100', n_window
         |  FROM c, (VALUES (0),(1),(2)) t(try_index) WHERE n_window > 0
         |UNION ALL SELECT CAST(doc_id AS BIGINT), t.try_index, 'S100', n_stream
         |  FROM c, (VALUES (0),(2)) t(try_index) WHERE n_stream > 0""".stripMargin), (s, dir) =>
      Pipeline.mentions(sources.DocCorpus.turns(t(s, dir, "documents")),
          sources.DocCorpus.gaz.toArray)
        .groupBy(col("turn_idx").cast("long").as("doc_id"),
          col("try_index"), col("code"))
        .agg(count(lit(1)).as("n"))),

    // A1+A2 over the linked stream: per-doc concept support, unique-round
    // count, confidence=unique/3, preferred name + ICD10CM crosswalk (J1/J2)
    Query("kgd_support", Some(kgdSupportSql), (s, dir) =>
      Aggregation.perTurn(kgdLinked(t(s, dir, "documents")))
        .select(supportCols: _*)),

    // §2.10 driver-green: the SAME support surface computed INCREMENTALLY —
    // documents split into 8 parquet files, streamed one file per
    // micro-batch (Trigger.AvailableNow), each batch through the real
    // extraction→linking→A1/A2 stages via foreachBatch (turn = doc, so a
    // unit of work never splits across batches); the unioned batch outputs
    // must equal the one-shot batch answer — stream == batch, judged by
    // the same DuckDB oracle as kgd_support
    Query("kgd_stream", Some(kgdSupportSql), (s, dir) => {
      val docs = t(s, dir, "documents")
      val (src, out, ckpt) =
        (tmpDir("graft_stream_src"), tmpDir("graft_stream_out"), tmpDir("graft_stream_ckpt"))
      docs.repartition(8).write.mode("overwrite").parquet(src)
      val q = s.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1).parquet(src)
        .writeStream
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], batchId: Long) =>
          // foreachBatch is at-least-once: a retried micro-batch re-runs
          // with the SAME batchId and overwrites exactly its own batch_id
          // partition; a plain append would double-count the replayed rows
          PartitionedParquet.scopedOverwrite(
              Aggregation.perTurn(kgdLinked(batch))
                .withColumn("batch_id", lit(batchId)), "batch_id")
            .parquet(out)
          ()
        }
        .start()
      q.awaitTermination()
      // zero-batch guard: an empty source commits no partition, where a
      // bare read of `out` would throw instead of returning the empty result
      val streamed =
        if (PartitionedParquet.hasData(s, out))
          PartitionedParquet.readPartitioned(s, out, "batch_id")
        else Aggregation.perTurn(kgdLinked(docs.limit(0)))
      streamed.select(supportCols: _*)
    }),

    // A3: cross-turn merge to conversation (= lang) level
    Query("kgd_agg", Some(
      s"""WITH $kgdCounts, $kgdSup
         |SELECT lang AS conv_id, 'SNOMEDCT_US' AS source, code, cui,
         |  cname AS concept_name, stext AS text,
         |  CAST(sum(total_count) AS BIGINT) AS total_count,
         |  CAST(max(unique_count) AS BIGINT) AS unique_count,
         |  round(max(unique_count) / 3.0, 6) AS confidence,
         |  min(icd10_code) AS icd10_code, min(icd10_name) AS icd10_name
         |FROM sup GROUP BY 1, 2, 3, 4, 5, 6""".stripMargin), (s, dir) =>
      Aggregation.perConv(
          Aggregation.perTurn(kgdLinked(t(s, dir, "documents"))))
        .select(col("conv_id"), col("source"), col("code"), col("cui"),
          col("concept_name"), col("text"), col("total_count"),
          col("unique_count"), round(col("confidence"), 6).as("confidence"),
          col("icd10_code"), col("icd10_name"))),

    // T1: all four predicate families (mentions / asserts / uses_tool /
    // replies_to) materialized from the documents corpus
    Query("kgd_triples", Some(
      s"""WITH $kgdCounts, $kgdSup,
         |mt AS (
         |  SELECT lang || '#' || doc_id AS subj, 'mentions' AS pred,
         |    'SNOMEDCT_US:' || code AS obj,
         |    round(unique_count / 3.0, 6) AS confidence,
         |    CAST(unique_count AS INTEGER) AS unique_count,
         |    CAST(total_count AS INTEGER) AS total_count, icd10_code, icd10_name
         |  FROM sup),
         |at AS (
         |  SELECT lang AS subj, 'asserts' AS pred, 'SNOMEDCT_US:' || code AS obj,
         |    round(max(unique_count) / 3.0, 6) AS confidence,
         |    CAST(max(unique_count) AS INTEGER) AS unique_count,
         |    CAST(sum(total_count) AS INTEGER) AS total_count,
         |    min(icd10_code) AS icd10_code, min(icd10_name) AS icd10_name
         |  FROM sup WHERE doc_id % 2 = 0 GROUP BY lang, code),
         |ut AS (
         |  SELECT lang || '#' || doc_id AS subj, 'uses_tool' AS pred,
         |    'search' AS obj, CAST(1.0 AS DOUBLE) AS confidence,
         |    CAST(1 AS INTEGER) AS unique_count, CAST(1 AS INTEGER) AS total_count,
         |    CAST(NULL AS VARCHAR) AS icd10_code, CAST(NULL AS VARCHAR) AS icd10_name
         |  FROM documents WHERE doc_id % 5 = 0),
         |rt AS (
         |  SELECT lang || '#' || doc_id AS subj, 'replies_to' AS pred,
         |    lang || '#' || prev AS obj, CAST(1.0 AS DOUBLE) AS confidence,
         |    CAST(1 AS INTEGER) AS unique_count, CAST(1 AS INTEGER) AS total_count,
         |    CAST(NULL AS VARCHAR) AS icd10_code, CAST(NULL AS VARCHAR) AS icd10_name
         |  FROM (SELECT lang, doc_id,
         |          lag(doc_id) OVER (PARTITION BY lang ORDER BY doc_id) AS prev
         |        FROM documents)
         |  WHERE prev IS NOT NULL)
         |SELECT * FROM mt UNION ALL SELECT * FROM at
         |UNION ALL SELECT * FROM ut UNION ALL SELECT * FROM rt""".stripMargin), (s, dir) => {
      import s.implicits._
      val turns = sources.DocCorpus.turns(t(s, dir, "documents"))
      Pipeline.triples(turns, sources.DocCorpus.gaz.toArray,
          sources.DocCorpus.gaz.toDF(), turns).toDF()
        .select(col("subj"), col("pred"), col("obj"),
          round(col("confidence"), 6).as("confidence"),
          col("unique_count"), col("total_count"),
          col("icd10_code"), col("icd10_name"))
    }),

    // W1: gap-free tiling invariants per artifact (row/entity counts +
    // Σ orig_len == length(text), newline escapes exercised)
    Query("kgd_tiles", Some(
      s"""WITH $kgdSpans
         |SELECT CAST(doc_id AS BIGINT) AS doc_id, try_index,
         |  CAST(CASE WHEN p = 0 THEN 1
         |    ELSE (CASE WHEN p > 1 THEN 1 ELSE 0 END) + 1 +
         |         (CASE WHEN p - 1 + slen < L THEN 1 ELSE 0 END)
         |    END AS BIGINT) AS n_rows,
         |  CAST(L AS BIGINT) AS sum_len,
         |  CAST(CASE WHEN p > 0 THEN 1 ELSE 0 END AS BIGINT) AS n_entities
         |FROM sp""".stripMargin), (s, dir) => {
      val (m, turnsDf) = sources.DocCorpus.spanInputs(t(s, dir, "documents"))
      SpanTable.tile(m, turnsDf)
        .groupBy(col("conv_id").cast("long").as("doc_id"), col("try_index"))
        .agg(count(lit(1)).as("n_rows"),
          sum(SpanTable.origLen(col("chunk"))).as("sum_len"),
          sum(when(col("is_entity"), 1L).otherwise(0L)).as("n_entities"))
    }),

    // W2: global char offsets spliced across the three per-round artifacts
    // (base = Σ prior (file_len + 8), <NEW_LINE> length correction live)
    Query("kgd_readback", Some(
      s"""WITH $kgdSpans
         |SELECT CAST(doc_id AS BIGINT) AS doc_id, try_index,
         |  CAST(try_index * (L + 8) + p - 1 AS BIGINT) AS start_ind,
         |  CAST(try_index * (L + 8) + p - 1 + slen AS BIGINT) AS end_ind,
         |  sname AS value
         |FROM sp WHERE p > 0""".stripMargin), (s, dir) => {
      val (m, turnsDf) = sources.DocCorpus.spanInputs(t(s, dir, "documents"))
      SpanTable.readBack(SpanTable.tile(m, turnsDf))
        .select(col("conv_id").cast("long").as("doc_id"), col("try_index"),
          col("start_ind"), col("end_ind"), col("value"))
    }),

    // A4-A6: IoU span clustering + acc-weighted concept vote + support
    // threshold, all SQL-predictable (DocCorpus.voteInputs scaladoc)
    Query("kgd_voted", Some(
      """SELECT CAST(doc_id AS BIGINT) AS doc_id,
        |  CAST(p - 1 AS INTEGER) AS start, CAST(p + 3 AS INTEGER) AS "end",
        |  'D100' AS code, 'data' AS concept_name, CAST(1.0 AS DOUBLE) AS support
        |FROM (SELECT doc_id, instr(text, 'data') AS p FROM documents)
        |WHERE p > 0""".stripMargin), (s, dir) =>
      Voting.vote(sources.DocCorpus.voteInputs(t(s, dir, "documents"))).toDF()
        .select(col("conv_id").cast("long").as("doc_id"), col("start"),
          col("end"), col("code"), col("concept_name"),
          round(col("support"), 6).as("support"))),

    // L1-L3: idf-overlap candidate scoring of every detected surface
    // against the gazetteer — the scoring algebra (token idf, should-clause
    // sum, rank by score/length/code) reproduced in plain SQL
    Query("kgd_link", Some(kgdLinkSql), (s, dir) => {
      import s.implicits._
      Linking.linkBySurface(Pipeline.mentions(sources.DocCorpus.turns(t(s, dir, "documents")),
          sources.DocCorpus.gaz.toArray), sources.DocCorpus.gaz.toDF())
        .select(linkCols: _*).distinct()
    }),

    // S8: the same linking served from the PERSISTED lexical index
    // (partition-pruned postings read; equality with the on-the-fly path
    // is the invariant — same oracle as kgd_link)
    Query("kgd_link_indexed", Some(kgdLinkSql), (s, dir) => {
      val docs = t(s, dir, "documents")
      import s.implicits._
      val idx = tmpDir("graft_lex")
      LexicalIndex.build(sources.DocCorpus.gaz.toDF(), idx)
      LexicalIndex.linkBySurface(Pipeline.mentions(sources.DocCorpus.turns(docs),
          sources.DocCorpus.gaz.toArray), s, idx)
        .select(linkCols: _*).distinct()
    }),

    // C1/C2: distributed connected components over a star+bridge graph
    // whose fixpoint is SQL-predictable (comp = doc_id - doc_id % 16)
    Query("kgd_components", Some(
      """SELECT CAST(doc_id AS BIGINT) AS doc_id,
        |CAST(doc_id - doc_id % 16 AS BIGINT) AS comp FROM documents""".stripMargin), (s, dir) => {
      val ids = t(s, dir, "documents").select(col("doc_id").cast("long").as("id"))
      val star = ids.select(col("id").as("src"), (col("id") - col("id") % 8).as("dst"))
      val bridge = ids.filter(col("id") % 16 === 8)
        .select(col("id").as("src"), (col("id") - 8).as("dst"))
      ids.join(ConnectedComponents.run(star.unionByName(bridge)), Seq("id"))
        .select(col("id").as("doc_id"), col("comp"))
    }),

    // ---- KG pipeline (rows-only; ScalaTest oracle is the gate) ----

    Query("kg_mentions", None, (s, dir) => {
      val (turns, gaz, _) = Pipeline.synthetic(s, cfgOf(dir))
      Pipeline.mentions(turns, gaz)
        .orderBy("conv_id", "turn_idx", "try_index", "start")
    }),
    Query("kg_linked", None, (s, dir) => {
      val (turns, gaz, gazDf) = Pipeline.synthetic(s, cfgOf(dir))
      Pipeline.linked(turns, gaz, gazDf)
        .orderBy("conv_id", "turn_idx", "try_index", "start")
    }),
    // the reference's `dhp_fhir_tool1_v1voting.py` path: the mention
    // stream voted at Voting's reference thresholds (IoU 0.3, vote 0.5)
    Query("kg_voted", None, (s, dir) => {
      import s.implicits._
      val (turns, gaz, _) = Pipeline.synthetic(s, cfgOf(dir))
      Voting.vote(Pipeline.mentions(turns, gaz).as[graft.model.Mention]).toDF()
        .orderBy("conv_id", "turn_idx", "start")
    }),
    Query("kg_triples", None, (s, dir) =>
      Pipeline.triples(s, cfgOf(dir)).toDF()
        .orderBy("pred", "subj", "obj")),
    // the production-shape flagship: same rows as kg_triples, but the
    // extraction output is staged to parquet once and both agg branches
    // read it back (benched alongside kg_triples to show the delta)
    Query("kg_triples_staged", None, (s, dir) => {
      // the returned DF lazily reads the stage tables — cleanup at exit
      val stage = tmpDir("graft_stage")
      val df = Pipeline.triplesStaged(s, cfgOf(dir), stage).toDF()
        .orderBy("pred", "subj", "obj")
      // force analysis (the resolved bucketed relation is baked into the
      // plan), then drop the catalog entries so repeated invocations don't
      // accumulate stale temp-dir tables in the session
      df.queryExecution.assertAnalyzed()
      Pipeline.dropStageTables(s, stage)
      df
    }),
    // L1-L3 lexical candidate linking (the ES multi_match analogue):
    // idf-overlap scoring against the broadcast alias index, top-10 + pick
    Query("kg_link_surface", None, (s, dir) => {
      val (turns, gaz, gazDf) = Pipeline.synthetic(s, cfgOf(dir))
      // linkBySurface consumes mentions twice (distinct surfaces + final
      // join-back); cache the extraction output as a stage table would.
      // EAGER fill (count) — a lazy cache races itself when both consumers
      // land in one job and extraction runs twice anyway. Mention rows are
      // compact (no text column), so the columnar cache write is cheap —
      // unlike the wide flagship rows where recompute-with-overlap wins
      // (Pipeline.triples scaladoc). Verify/Bench/BenchExtra sweep after.
      val m = Pipeline.mentions(turns, gaz).cache()
      m.count()
      Linking.linkBySurface(m, gazDf)
        .filter(col("selected"))
        .groupBy(col("sab"), col("code")).agg(count(lit(1)).as("n"))
        .orderBy("sab", "code")
    }),
    // §3.3 batch export: per-conversation labeling JSON (nested entities
    // hierarchy, review defaults pinned; round-trip-tested in
    // ScaleTechniquesSpec)
    Query("kg_export_json", None, (s, dir) => {
      val (turns, gaz, gazDf) = Pipeline.synthetic(s, cfgOf(dir))
      val l = Pipeline.linked(turns, gaz, gazDf)
      Export.conceptJson(Aggregation.perConv(Aggregation.perTurn(l)))
        .orderBy("conv_id")
    }),
    // U4 faceted candidate search: deterministic facet planting (half the
    // mentions carry the reference's search-keyword dict analogue) —
    // selection shifts only where the facet keyword hits a candidate alias
    Query("kg_link_faceted", None, (s, dir) => {
      val (turns, gaz, gazDf) = Pipeline.synthetic(s, cfgOf(dir))
      val m0 = Pipeline.mentions(turns, gaz).cache()
      m0.count() // eager: see kg_link_surface
      val m = m0
        .withColumn("facets",
          when(pmod(xxhash64(col("conv_id"), col("turn_idx")), lit(2)) === 0,
            map(lit("severity"), array(lit("acute"))))
            .otherwise(expr("map()").cast("map<string,array<string>>")))
      Linking.linkFaceted(m, gazDf)
        .filter(col("selected"))
        .groupBy(col("sab"), col("code")).agg(count(lit(1)).as("n"))
        .orderBy("sab", "code")
    }),
    Query("kg_canonical", None, (s, dir) => {
      import s.implicits._
      val gaz = Gazetteer.rows(cfgOf(dir).nBase).toDF()
      Canonicalize.canonicalConcepts(gaz).orderBy("concept_id")
    }),
    // §3.2 span-table export: gap-free tiling of every turn's text per
    // ensemble round (the reference pipe artifact; byte-level golden gate
    // in SpanTableSpec)
    Query("kg_span_tiles", None, (s, dir) => {
      val (turns, gaz, _) = Pipeline.synthetic(s, cfgOf(dir))
      SpanTable.tile(Pipeline.mentions(turns, gaz), turns)
        .orderBy("conv_id", "turn_idx", "try_index", "row_idx")
    }),
    // §3.2 read-back: conversation-global entity offsets spliced across the
    // three per-round artifacts (app.py:1496-1523 semantics)
    Query("kg_span_readback", None, (s, dir) => {
      val (turns, gaz, _) = Pipeline.synthetic(s, cfgOf(dir))
      SpanTable.readBack(SpanTable.tile(Pipeline.mentions(turns, gaz), turns))
        .orderBy("conv_id", "turn_idx", "try_index", "start_ind")
    })
  )

  /** The registry keyed by name. A `Map` built from a `Seq` silently keeps
    * only the last of two same-named entries, so the names must be unique. */
  private[graft] def byName(registry: Seq[Query]): Map[String, Query] = {
    val dups = registry.groupBy(_.name).collect { case (n, qs) if qs.size > 1 => n }
    require(dups.isEmpty, s"duplicate query names: ${dups.mkString(", ")}")
    registry.map(q => q.name -> q).toMap
  }

  private val registered: Map[String, Query] = byName(registry)

  val queries: Map[String, (SparkSession, String) => DataFrame] =
    registered.map { case (n, q) => n -> q.body }

  val oracleSql: Map[String, String] =
    registered.collect { case (n, Query(_, Some(sql), _)) => n -> sql }
}
