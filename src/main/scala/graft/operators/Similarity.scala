package graft.operators

import graft.util.{Par, PartitionedParquet}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.functions._

/** Similarity search over an embedding column (builder brief; reference
  * embedding cosine at `src/small_tasks/cos_sim.py:52-66`).
  *
  *  - [[cosine]]: native codegen'd column kernel — no UDF (SURVEY §2.12 F6).
  *  - [[bruteForceTopK]]: exact baseline — one narrow projection + a
  *    global top-k (Spark's `orderBy.limit` plans TakeOrderedAndProject:
  *    per-partition heaps, only k rows cross the network per partition).
  *  - ANN: one implementation of each index operation — in-flight
  *    [[annTopK]], [[buildVectorIndex]], [[appendToVectorIndex]],
  *    [[compactVectorIndex]], [[annTopKIndexed]], [[recallIndexed]] and
  *    [[scanFraction]] — over a [[VectorIndex]] kind: [[Ivf]] (nearest-
  *    centroid lists) or [[Lsh]] (random-hyperplane signature buckets).
  *    A kind says only how a vector is assigned to its probe key and list,
  *    and how a query vector is routed, on the driver, to the keys it
  *    probes. Candidates are reranked by exact cosine.
  */
object Similarity {

  /** Cosine similarity of two array<float|double> columns — the native
    * codegen'd kernel (graft.functions.SignatureExprs.CosineExpr);
    * bit-identical to its higher-order-function reference form
    * (parity-tested), ~10× faster per pair. */
  def cosine(a: Column, b: Column): Column =
    graft.functions.SignatureExprs.cosine(a, b)

  /** Exact top-k by cosine against one query vector — also the exact
    * rerank of every ANN candidate set. */
  def bruteForceTopK(emb: DataFrame, idCol: String, vecCol: String,
      query: Seq[Double], k: Int): DataFrame =
    emb.select(col(idCol), round(cosine(col(vecCol), array(query.map(lit): _*)), 6).as("cos"))
      .orderBy(col("cos").desc, col(idCol).asc)
      .limit(k)

  /** `bits`-bit random-hyperplane signature of a vector column — the
    * native codegen'd kernel (r8; graft.functions.SignatureExprs.LshSigExpr,
    * bit-identical to its HOF reference form, parity-tested in
    * SignatureParitySpec): the HOF form allocated one sequence + one zip array per plane per
    * row and evaluated `bits` separate aggregates. */
  def lshSignature(vec: Column, bits: Int): Column =
    graft.functions.SignatureExprs.lshSig(vec, bits)

  /** The multi-probe bucket set: the signature plus every variant within
    * hamming ≤ `probeHamming` bit flips — Σ C(bits, i) probes of 2^bits
    * buckets (e.g. bits=12, probeHamming=2: 79 of 4096, a ~2% expected
    * scan fraction). Recall/scan traded by `probeHamming`; measured recall
    * vs [[bruteForceTopK]] is the sim_lsh_recall driver row. */
  private[graft] def probeSigs(qSig: Long, bits: Int, probeHamming: Int): Seq[Long] = {
    def flips(sig: Long, from: Int, left: Int): Seq[Long] =
      if (left == 0) Seq(sig)
      else Seq(sig) ++ (from until bits).flatMap(b =>
        flips(sig ^ (1L << b), b + 1, left - 1))
    flips(qSig, 0, probeHamming).distinct
  }

  /** An ANN index kind. Persisted, its table holds one row per vector with
    * the kind's assignment columns, partitioned by `epoch` and `listCol`;
    * a probe reads only the lists of its keys (parquet partition pruning)
    * and keeps the rows whose `keyCol` is one of them. With `fanOut` the
    * corpus-scale entry points ([[annTopK]], [[buildVectorIndex]]) fan out
    * before assignment; with `cluster` the persisted write clusters by
    * `listCol`. */
  sealed abstract class VectorIndex(private[graft] val keyCol: String,
      private[graft] val listCol: String, private[graft] val fanOut: Boolean,
      private[graft] val cluster: Boolean) {
    /** The list holding probe key `key`, and how many keys a list holds. */
    private[graft] def listOf(key: Long): Long
    private[graft] def keysPerList: Long
    /** The kind bound to routing state fitted on `emb`. */
    private[graft] def fit(emb: DataFrame, idCol: String, vecCol: String): Router
    /** The kind bound to the routing state of the index at `path`. */
    private[graft] def open(spark: SparkSession, path: String): Router
  }

  /** A [[VectorIndex]] bound to its routing state (IVF: its codebook). */
  private[graft] trait Router {
    /** `df` with the kind's assignment columns added. */
    def assign(df: DataFrame, vecCol: String): DataFrame
    /** The probe keys of one query vector, computed on the driver. */
    def probeKeys(query: Seq[Double]): Seq[Long]
    /** Persists the routing state with the index at `path`. */
    def save(spark: SparkSession, path: String): Unit
  }

  /** Inverted-file lists — the classic two-level scale path: every vector
    * is assigned to its nearest of `nCentroids` codebook centroids
    * ([[sampleCentroids]], then `lloydIters` [[refineCentroids]] passes),
    * and a query probes its `nProbe` nearest lists, routed by cosine over
    * the codebook. Full probing is `nProbe = nCentroids`. Persisted, the
    * codebook is written once at build and read back, never re-fitted, by
    * every later operation — an append never moves list boundaries.
    *
    * NO fan-out and NO pre-write clustering (r8 A/B, both reverted):
    * assignment is nCentroids cosines per row, trivial next to the
    * text-signature kernels Par.fanOut exists for, and the inserted
    * exchange measured a net loss (sim_ivf_topk 0.28 → 0.42 s,
    * sim_ivf_indexed 1.16 → 1.32 s at sf0.1); clustering by a 16-value
    * ivf_cid caps write parallelism at nCentroids tasks. File scatter is
    * bounded by tasks × nCentroids, and [[compactVectorIndex]] exists to
    * bound small-file growth. */
  final case class Ivf(nCentroids: Int = 16, lloydIters: Int = 1, nProbe: Int = 4)
      extends VectorIndex("ivf_cid", "ivf_cid", fanOut = false, cluster = false) {
    private[graft] def listOf(key: Long): Long = key
    private[graft] def keysPerList: Long = 1L
    private[graft] def fit(emb: DataFrame, idCol: String, vecCol: String): Router =
      routerOf(refineCentroids(emb, vecCol,
        sampleCentroids(emb, idCol, vecCol, nCentroids), lloydIters))
    private[graft] def open(spark: SparkSession, path: String): Router =
      routerOf(spark.read.parquet(s"$path/centroids").collect()
        .map(r => (r.getLong(0), r.getSeq[Double](1))))
    private def routerOf(centroids: Array[(Long, Seq[Double])]): Router = new Router {
      def assign(df: DataFrame, vecCol: String): DataFrame =
        df.withColumn("ivf_cid", assignCol(centroids, vecCol))
      def probeKeys(query: Seq[Double]): Seq[Long] = probeCids(centroids, query, nProbe)
      def save(spark: SparkSession, path: String): Unit = {
        import spark.implicits._
        centroids.toSeq.toDF("cid", "cvec")
          .coalesce(1).write.mode("overwrite").parquet(s"$path/centroids")
      }
    }
  }

  /** Random-hyperplane signature buckets: a vector's `bits`-bit
    * [[lshSignature]] is its probe key and the signature's top
    * `prefixBits` its list (2^prefixBits partition directories); a query
    * probes every signature within hamming ≤ `probeHamming` of its own
    * ([[probeSigs]]). Full probing is `probeHamming = bits`. The
    * hyperplanes are data-independent: nothing is fitted or persisted,
    * and an append is exactly a rebuild over corpus ∪ delta.
    *
    * Corpus-scale entry points fan out before the signature kernel: a
    * single-file corpus otherwise computes every row's signature on one
    * scan split (profiled as a 1.4 s single-task stage at sf0.1). */
  final case class Lsh(bits: Int = 12, prefixBits: Int = 6, probeHamming: Int = 1)
      extends VectorIndex("lsh_sig", "lsh_prefix", fanOut = true, cluster = true) {
    require(prefixBits > 0 && prefixBits <= bits && bits <= 62,
      s"need 0 < prefixBits <= bits <= 62, got prefixBits=$prefixBits bits=$bits")
    private[graft] def listOf(key: Long): Long = key >>> (bits - prefixBits)
    private[graft] def keysPerList: Long = 1L << (bits - prefixBits)
    private[graft] def fit(emb: DataFrame, idCol: String, vecCol: String): Router = router
    private[graft] def open(spark: SparkSession, path: String): Router = router

    /** A query vector's signature, on the driver: the function the
      * [[lshSignature]] kernel evaluates per row, over a double array
      * (the query literal's shape). */
    private[graft] def signatureOf(query: Seq[Double]): Long =
      graft.functions.Signatures.lshSignature(
        new GenericArrayData(query.toArray), isFloat = false, bits)

    private val router: Router = new Router {
      def assign(df: DataFrame, vecCol: String): DataFrame =
        df.withColumn("lsh_sig", lshSignature(col(vecCol), bits))
          .withColumn("lsh_prefix",
            shiftrightunsigned(col("lsh_sig"), bits - prefixBits))
      def probeKeys(query: Seq[Double]): Seq[Long] =
        probeSigs(signatureOf(query), bits, probeHamming)
      def save(spark: SparkSession, path: String): Unit = ()
    }
  }

  /** Deterministically sampled IVF codebook: (cid, centroid vector). The
    * `.collect()` is legitimate — IVF codebooks are small by design.
    *
    * The sample is the global nCentroids minimum of (xxhash64(id), id) —
    * seeded, deterministic. Computed via a hash-range PRE-FILTER (VERDICT
    * r3 nit): only ids whose hash lands in the lowest 1/2^sliceShift of
    * hash space reach the sort, so at 10^12 rows the sort input shrinks by
    * 2^sliceShift while the answer is provably identical whenever the
    * slice holds ≥ nCentroids rows (every in-slice hash is smaller than
    * every out-of-slice hash, so the global minimums are all in-slice).
    * Too-small slice (tiny corpora) falls back to the full sort — same
    * output either way (equality-tested). */
  private[graft] def sampleCentroids(emb: DataFrame, idCol: String,
      vecCol: String, nCentroids: Int, sliceShift: Int = 10): Array[(Long, Seq[Double])] = {
    require(sliceShift >= 0 && sliceShift < 64, s"sliceShift 0..63, got $sliceShift")
    val base = emb.select(col(idCol).cast("long"), col(vecCol))
    def topN(df: DataFrame) =
      df.orderBy(xxhash64(col(idCol)), col(idCol)).limit(nCentroids).collect()
        .map(r => (r.getLong(0), r.getSeq[Float](1).map(_.toDouble).toSeq))
    // sliceShift = 0 means "whole hash space" — skip the pre-filter
    // outright (Scala's shift is mod 64, so 1L << 64 would silently wrap
    // the bound to a near-empty slice and waste a full-scan-plus-fallback)
    if (sliceShift == 0) return topN(base)
    // signed-order slice bound: Long.MinValue + 2^(64 - sliceShift)
    val bound = Long.MinValue + (1L << (64 - sliceShift))
    val sliced = topN(base.filter(xxhash64(col(idCol)) < lit(bound)))
    if (sliced.length >= nCentroids) sliced else topN(base)
  }

  /** Lloyd (spherical k-means) refinement of a sampled codebook (VERDICT
    * r4 next #6): assign every vector to its nearest centroid by cosine,
    * recompute each list's elementwise mean, keep the previous centroid for
    * an emptied list. One pass per iteration: the per-dimension means are
    * `dims` parallel avg aggregates with map-side partial aggregation —
    * one shuffle of (nCentroids × dims) partials, nothing driver-side but
    * the tiny codebook itself. Cosine ignores vector scale, so the plain
    * mean IS the spherical-k-means update (no renormalization needed for
    * assignment purposes). Deterministic up to float-summation order in
    * avg(); an exact-tie assignment flip from that is ~never and the
    * full-probe exactness contract is centroid-independent either way.
    * The pass reads `emb` in its ORIGINAL partitioning on purpose: a
    * layout change would drift codebook low bits and with them the
    * measured recall pins. */
  private[graft] def refineCentroids(emb: DataFrame, vecCol: String,
      centroids: Array[(Long, Seq[Double])], iters: Int = 1): Array[(Long, Seq[Double])] = {
    if (iters <= 0) return centroids
    val dims = centroids.head._2.length
    val assigned = emb.withColumn("ivf_cid", assignCol(centroids, vecCol))
    val avgCols = (0 until dims)
      .map(i => avg(element_at(col(vecCol), i + 1).cast("double")).as(s"c$i"))
    val byCid = assigned.groupBy(col("ivf_cid")).agg(avgCols.head, avgCols.tail: _*)
      .collect()
      .map(r => r.getLong(0) -> (0 until dims).map(i => r.getDouble(i + 1)).toSeq)
      .toMap
    val next = centroids.map { case (cid, old) => (cid, byCid.getOrElse(cid, old)) }
    refineCentroids(emb, vecCol, next, iters - 1)
  }

  /** Nearest-centroid assignment as a pure codegen'd expression: one cosine
    * per centroid, argmax via sort_array on (cos, cid) structs. */
  private def assignCol(centroids: Array[(Long, Seq[Double])], vecCol: String): Column = {
    val scored = array(centroids.map { case (cid, cvec) =>
      struct(cosine(col(vecCol), array(cvec.map(lit): _*)).as("cos"), lit(cid).as("cid"))
    }: _*)
    element_at(reverse(array_sort(scored)), 1).getField("cid")
  }

  /** Driver-side twin of [[cosine]] for query→centroid routing. */
  private def cosLocal(a: Seq[Double], b: Seq[Double]): Double = {
    val dot = a.lazyZip(b).map(_ * _).sum
    val na = math.sqrt(a.map(x => x * x).sum); val nb = math.sqrt(b.map(x => x * x).sum)
    if (na > 0 && nb > 0) dot / (na * nb) else 0.0
  }

  private def probeCids(centroids: Array[(Long, Seq[Double])],
      query: Seq[Double], nProbe: Int): Seq[Long] =
    centroids.map { case (cid, cv) => (cosLocal(query, cv), cid) }
      .sortBy { case (c, cid) => (-c, cid) }.take(nProbe).map(_._2).toSeq

  private def fannedOut(index: VectorIndex, emb: DataFrame): DataFrame =
    if (index.fanOut) Par.fanOut(emb) else emb

  /** ANN top-k, in flight: the index is fitted on `emb` and every row
    * assigned per call; candidates are the rows under the query's probe
    * keys, reranked by exact cosine. An empty probe set returns fewer than
    * k rows — callers wanting guarantees use [[bruteForceTopK]]; recall
    * is MEASURED ([[recallIndexed]]), not assumed. [[buildVectorIndex]] +
    * [[annTopKIndexed]] is the persisted form whose probes are
    * partition-PRUNED reads. */
  def annTopK(emb: DataFrame, idCol: String, vecCol: String,
      query: Seq[Double], k: Int, index: VectorIndex): DataFrame = {
    val router = index.fit(emb, idCol, vecCol)
    bruteForceTopK(router.assign(fannedOut(index, emb), vecCol)
      .filter(col(index.keyCol).isin(router.probeKeys(query): _*)),
      idCol, vecCol, query, k)
  }

  /** One-time persisted ANN index (the analogue of the reference's bulk-
    * loaded ES index, `es_docker/育暘_NER_ES.ipynb`): the routing state
    * (IVF codebook) at `path/centroids`, and every vector with its
    * assignment columns at `path/vectors` as epoch 0, partitioned by the
    * kind's list column. [[annTopKIndexed]] then reads ONLY its probed
    * lists — at 10^12 vectors a 4-of-1024-probe query scans ~0.4% of the
    * table, enforced by parquet partition pruning, with zero per-row
    * assignment work. */
  def buildVectorIndex(emb: DataFrame, idCol: String, vecCol: String,
      path: String, index: VectorIndex): Unit = {
    val router = index.fit(emb, idCol, vecCol)
    router.save(emb.sparkSession, path)
    PartitionedParquet.writeEpoch(router.assign(fannedOut(index, emb), vecCol),
      s"$path/vectors", 0L, Some(index.listCol), index.cluster)
  }

  /** Append a delta of vectors to a persisted index as epoch `epoch` (> 0;
    * a retry of the same epoch is idempotent) — the embedding twin of
    * [[Dedup.appendToMinhashIndex]]: at 100 TB new embeddings arrive in
    * batches and re-fitting per batch is absurd. Assignment uses the
    * index's OWN persisted routing state, so full-probe exactness over
    * corpus ∪ delta holds by construction (tested); IVF centroid drift
    * under sustained appends is a rebuild decision, not an append-time
    * side effect.
    *
    * Compaction cadence: each epoch writes up to (delta tasks × touched
    * lists) small files, and every probe of a list opens all of them
    * across all epochs. Callers must run [[compactVectorIndex]] once the
    * accumulated append files per list outgrow the build's ~one (e.g.
    * every few epochs, or when the epoch count reaches the delta's task
    * count) and flip to the compacted copy; nothing here bounds the
    * growth on its own. */
  def appendToVectorIndex(delta: DataFrame, vecCol: String, path: String,
      epoch: Long, index: VectorIndex): Unit = {
    val spark = delta.sparkSession
    PartitionedParquet.requireAppendable(spark, path, epoch)
    PartitionedParquet.writeEpoch(index.open(spark, path).assign(delta, vecCol),
      s"$path/vectors", epoch, Some(index.listCol), index.cluster)
  }

  /** Fold a multi-epoch index into a single-epoch copy at `dstPath`, one
    * file per list: the vectors twin of [[Dedup.compactMinhashIndex]],
    * bounding the epoch-dir and small-file growth of sustained appends.
    * The routing state is copied verbatim (the IVF codebook is what makes
    * the lists mean anything); blue/green — the caller flips its index
    * pointer when the copy is complete.
    *
    * Quiesce contract — ENFORCED since r7, in parity with
    * [[graft.operators.Dedup.compactMinhashIndex]]: the compacted copy
    * carries a `fence` table (`min_next_epoch = max folded epoch + 1`,
    * src's own fence carried forward if higher) and appends refuse any
    * epoch below it, so a late retry of an epoch already folded into the
    * compacted copy fails loudly instead of re-adding its rows. No commit
    * marker is needed here (unlike minhash's three tables): an append is
    * ONE write job, atomic at the job commit. */
  def compactVectorIndex(spark: SparkSession, srcPath: String, dstPath: String,
      index: VectorIndex): Unit = {
    // epoch ids from the epoch=N partition DIRECTORY names — a metadata
    // listing, not a distinct() over every vector row (the r7 review: that
    // extra full scan is exactly the IO this operator exists to bound)
    val srcEpochs =
      PartitionedParquet.partitionIds(spark, s"$srcPath/vectors", "epoch")
    require(srcEpochs.nonEmpty,
      s"$srcPath/vectors has no epoch=N partitions — not a vector index")
    PartitionedParquet.compactEpochs(spark, s"$srcPath/vectors",
      s"$dstPath/vectors", srcEpochs, Some(index.listCol))
    index.open(spark, srcPath).save(spark, dstPath)
    PartitionedParquet.writeFence(spark, srcPath, dstPath, srcEpochs)
  }

  private def listsOf(index: VectorIndex, keys: Seq[Long]): Seq[Long] =
    keys.map(index.listOf).distinct

  /** ANN top-k served from a [[buildVectorIndex]] table: the query is
    * routed on the driver, then one partition-pruned scan of its probed
    * lists (the plan's PartitionFilters, asserted in VectorIndexSpec),
    * narrowed to its probe keys where a probed list also holds unprobed
    * ones, + exact rerank. Row-identical to [[annTopK]] on the same corpus
    * and routing state (tested). */
  def annTopKIndexed(spark: SparkSession, path: String, idCol: String,
      vecCol: String, query: Seq[Double], k: Int, index: VectorIndex): DataFrame = {
    val keys = index.open(spark, path).probeKeys(query)
    val lists = listsOf(index, keys)
    val inLists = col(index.listCol).isin(lists: _*)
    // whole lists (IVF always, LSH at full probing) need no key filter; the
    // 4096-literal IN of LSH's full ball at bits=12 measured slower
    // (sim_lsh_indexed at sf0.1, best of 3: 2.1 → 2.6 s)
    bruteForceTopK(spark.read.parquet(s"$path/vectors").filter(
        if (keys.size == lists.size * index.keysPerList) inLists
        else inLists && col(index.keyCol).isin(keys: _*)),
      idCol, vecCol, query, k)
  }

  /** Exact top-k per query for a BATCH of query vectors, one plan: broadcast
    * the (tiny) query set, score every (row, query) pair, window top-k per
    * query. The exact side of [[recallIndexed]]. */
  private def batchExactTopK(emb: DataFrame, idCol: String, vecCol: String,
      queries: Seq[(Long, Seq[Double])], k: Int): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    val qDf = queries.toDF("query_id", "qvec")
    val w = org.apache.spark.sql.expressions.Window.partitionBy("query_id")
      .orderBy(col("cos").desc, col(idCol).asc)
    // NO fan-out (r8 A/B — reverted): recall hands this an index READ-BACK
    // that is already multi-split (one split per partition dir); for IVF
    // (16 dirs < 32 cores) the fan-out re-shuffled every vector for a
    // 20-way broadcast nested loop that the window shuffle re-distributes
    // anyway — sim_ivf_recall 1.30 → 1.92 s at sf0.1
    emb.crossJoin(broadcast(qDf))
      .select(col("query_id"), col(idCol),
        round(cosine(col(vecCol), col("qvec")), 6).as("cos"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .select(col("query_id"), col(idCol), col("cos"))
  }

  /** MEASURED recall@k of the pruned probe path vs [[bruteForceTopK]]
    * (VERDICT r4 next #4), served from a [[buildVectorIndex]] table for a
    * BATCH of queries in one plan: the pruned side reads only the union of
    * every query's probed lists (partition-pruned) and joins each row to
    * the queries probing its key; the exact side is one broadcast-query
    * scan + window top-k. Returns (query_id, n_hits, recall) per query
    * (k exact rows per query, so every query keeps a row; 0 hits
    * included), or with `detail = true` the per-(query, exact-neighbor)
    * rows (query_id, id, cos, hit): every exact top-k row — id + rounded
    * cosine, both recomputable by an INDEPENDENT engine from the raw
    * vectors, which makes the recall denominator externally checkable
    * (VERDICT r5 next #4) — flagged with whether the pruned top-k found
    * it. Only the `hit` flags are measurement. */
  def recallIndexed(spark: SparkSession, path: String, idCol: String,
      vecCol: String, queries: Seq[(Long, Seq[Double])], k: Int,
      index: VectorIndex, detail: Boolean = false): DataFrame = {
    import spark.implicits._
    val router = index.open(spark, path)
    // each query is routed once, for both its probe pairs and the list union
    val keysOf = queries.map { case (qid, q) => (qid, q, router.probeKeys(q)) }
    val probePairs = broadcast(keysOf.flatMap { case (qid, q, keys) =>
      keys.map(key => (qid, key, q))
    }.toDF("query_id", "pkey", "qvec"))
    val idx = spark.read.parquet(s"$path/vectors")
    val cands = idx
      .filter(col(index.listCol).isin(listsOf(index, keysOf.flatMap(_._3)): _*))
      .join(probePairs, col(index.keyCol) === col("pkey"))
      .select(col("query_id"), col(idCol),
        round(cosine(col(vecCol), col("qvec")), 6).as("cos"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy("query_id")
      .orderBy(col("cos").desc, col(idCol).asc)
    val prunedTop = cands
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .select(col("query_id"), col(idCol), lit(1).as("hit"))
    val rows = batchExactTopK(idx, idCol, vecCol, queries, k)
      .join(prunedTop, Seq("query_id", idCol), "left")
      .select(col("query_id"), col(idCol), col("cos"),
        coalesce(col("hit"), lit(0)).as("hit"))
    if (detail) rows
    else rows.groupBy("query_id").agg(sum(col("hit")).cast("long").as("n_hits"))
      .select(col("query_id"), col("n_hits"),
        round(col("n_hits") / lit(k.toDouble), 6).as("recall"))
  }

  /** Mean fraction of the indexed corpus a pruned probe reads, averaged
    * over `queries` — the x-axis of the recall-vs-scan tradeoff curve a
    * 100 TB operator tunes by (VERDICT r5 next #6). One tiny groupBy-count
    * job over the index (bounded collect: one row per occupied probe key —
    * ≤ nCentroids for IVF, ≤ 2^bits for LSH); query routing is the
    * driver-side routing of [[annTopKIndexed]]. */
  def scanFraction(spark: SparkSession, path: String,
      queries: Seq[(Long, Seq[Double])], index: VectorIndex): Double = {
    val router = index.open(spark, path)
    // a partition-inferred key (ivf_cid) reads back as int — cast before collect
    val sizes = spark.read.parquet(s"$path/vectors")
      .groupBy(col(index.keyCol).cast("long").as("key")).count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val n = sizes.values.sum.toDouble
    queries.map { case (_, q) =>
      router.probeKeys(q).map(key => sizes.getOrElse(key, 0L)).sum / n
    }.sum / queries.size
  }

  /** Exact all-pairs cosine ≥ threshold (oracle-checkable baseline; the
    * LSH-bucketed [[cosineNearDupPairs]] is the at-scale path). The join
    * is a nested-loop on id inequality — O(n²), small-n / verification use
    * only. */
  def cosineExactPairs(emb: DataFrame, idCol: String, vecCol: String,
      threshold: Double): DataFrame = {
    // fan-out the STREAMED side of the nested-loop join: with a
    // single-file corpus the whole O(n²) cosine evaluation otherwise runs
    // in one task (profiled 3.1 s at sf0.1 — n² cosines on one core)
    val a = Par.fanOut(
      emb.select(col(idCol).as("id_a"), col(vecCol).as("v_a")))
    val b = emb.select(col(idCol).as("id_b"), col(vecCol).as("v_b"))
    a.join(b, col("id_a") < col("id_b"))
      .withColumn("cos", round(cosine(col("v_a"), col("v_b")), 6))
      .filter(col("cos") >= threshold)
      .select(col("id_a"), col("id_b"), col("cos"))
  }

  /** All-pairs near-duplicate by embedding cosine ≥ threshold, bucketed by
    * LSH signature so the self-join never goes all-pairs. */
  def cosineNearDupPairs(emb: DataFrame, idCol: String, vecCol: String,
      threshold: Double, bits: Int = 8): DataFrame = {
    // fan-out before the signature kernel; persist — both self-join sides
    // read the same signature table
    val sigs = Par.fanOut(
        emb.select(col(idCol).as("id"), col(vecCol).as("v")))
      .withColumn("sig", lshSignature(col("v"), bits))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val a = sigs.select(col("sig"), col("id").as("id_a"), col("v").as("v_a"))
    val b = sigs.select(col("sig"), col("id").as("id_b"), col("v").as("v_b"))
    a.join(b, Seq("sig"))
      .filter(col("id_a") < col("id_b"))
      .withColumn("cos", round(cosine(col("v_a"), col("v_b")), 6))
      .filter(col("cos") >= threshold)
      .select(col("id_a"), col("id_b"), col("cos"))
  }
}
