package graft.operators

import graft.functions.SignatureExprs
import graft.util.{Par, PartitionedParquet}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Large-scale training-data deduplication suite (builder brief): exact,
  * MinHash+LSH, SimHash and n-gram-Jaccard near-dup — each expressed so the
  * expensive part stays inside whole-stage codegen (higher-order functions
  * over arrays, no Python/driver loops) and the only shuffles are the
  * bucket/groupBy joins that are information-theoretically required.
  *
  * Scale strategy per operator:
  *  - exact:     one hash-groupBy (map-side partial agg collapses dups early)
  *  - blocked:   one implementation of each near-dup operation —
  *               [[droppedBuckets]], [[estimatePairs]], [[trueJaccardPairs]]
  *               — over a [[Blocking]] kind: [[Minhash]] (LSH bands of a
  *               minhash signature) or [[Simhash]] (bit blocks of a 64-bit
  *               simhash). Signature = pure projection; bucket join keys
  *               are (band, bkey) — candidate pairs ~ true-dup pairs, never
  *               all-pairs; verification re-checks the kind's estimate or
  *               the true Jaccard
  *  - ngram:     rare-shingle inverted join (df-capped prefix filter) so hot
  *               shingles can't quadratically explode a bucket
  */
object Dedup {

  /** Width in words of every shingle: the minhash signature, the
    * true-Jaccard verify, [[ngramJaccardPairs]] and the persisted index.
    * The exact SQL oracles hard-code it. */
  private val ShingleWords = 3

  /** Shard count of the persisted index's `bands` table: a delta probe
    * reads only the shards its own band keys hash to. */
  private val IndexShards = 64L

  /** The bucket key columns of every blocked table. */
  private val BandKey = Seq("band", "bkey")

  /** A near-dup blocking kind. Each kind supplies its signature kernel,
    * its `nKeys` bucket keys per signature (a candidate pair shares at
    * least one) and its pair estimate: the estimate of two signatures,
    * output as `estimateCol`, and the predicate that keeps a pair at a
    * threshold. */
  sealed abstract class Blocking(private[graft] val nKeys: Int,
      private[graft] val estimateCol: String) {
    private[graft] def signature(text: Column): Column
    /** Bucket key `i` (0-based) of signature `sig`. */
    private[graft] def key(sig: Column, i: Column): Column
    private[graft] def estimate(sigA: Column, sigB: Column): Column
    private[graft] def keep(est: Column, threshold: Double): Column
  }

  /** MinHash + LSH: 32 minhashes of the 3-word shingle set in 16 bands ×
    * 2 rows; the estimate is the matching-minhash fraction (rounded to 6
    * places, which is exact: a multiple of 1/32 has at most 5), kept when
    * ≥ threshold. A pair at Jaccard J misses every band with probability
    * (1 − J²)^16, ~3e-12 at J = 0.9. The persisted index uses this
    * banding too, so it can only be built, appended and probed with one
    * layout. */
  case object Minhash extends Blocking(16, "est_jaccard") {
    private val hashes = 32
    private val rows = hashes / nKeys
    private[graft] def signature(text: Column): Column =
      SignatureExprs.minhashSig(text, hashes, ShingleWords)
    private[graft] def key(sig: Column, i: Column): Column =
      xxhash64(slice(sig, i * rows + 1, lit(rows)).cast("string"), i)
    private[graft] def estimate(sigA: Column, sigB: Column): Column =
      round(size(filter(zip_with(sigA, sigB, (x, y) => x === y), eq => eq)) /
        lit(hashes.toDouble), 6)
    private[graft] def keep(est: Column, threshold: Double): Column =
      est >= threshold
  }

  /** SimHash: a 64-bit simhash cut into `nBlocks` keys of 64/nBlocks bits
    * (pigeonhole: a pair within hamming ≤ nBlocks−1 agrees exactly on ≥ 1
    * block); the estimate is the hamming distance, kept when ≤ threshold.
    * 4 blocks (16-bit keys) is the at-scale shape — wider keys prune
    * harder; the recall surfaces use 8, whose guaranteed ball (hamming
    * ≤ 7) covers the gate corpus's true pairs. */
  final case class Simhash(nBlocks: Int) extends Blocking(nBlocks, "hamming") {
    require(nBlocks > 0 && 64 % nBlocks == 0,
      s"nBlocks must be a positive divisor of 64, got $nBlocks")
    private val width = 64 / nBlocks
    private val mask = if (width == 64) -1L else (1L << width) - 1
    private[graft] def signature(text: Column): Column =
      SignatureExprs.simhash64(text)
    private[graft] def key(sig: Column, i: Column): Column =
      call_function("shiftright", sig, (i * width).cast("int")).bitwiseAND(lit(mask))
    private[graft] def estimate(sigA: Column, sigB: Column): Column =
      bit_count(sigA.bitwiseXOR(sigB))
    private[graft] def keep(est: Column, threshold: Double): Column =
      est <= threshold
  }

  /** Normalized word array of a text column. */
  def words(text: Column): Column =
    filter(split(lower(text), "[^a-z0-9]+"), w => length(w) > 0)

  /** Exact dedup: canonical row per identical text (md5 content key). */
  def exact(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.groupBy(md5(col(textCol)).as("text_hash"))
      .agg(min(col(idCol)).as("canonical_id"), count(lit(1)).as("dup_count"))

  private def bucketSizes(keys: DataFrame): DataFrame =
    keys.groupBy(BandKey.map(col): _*).agg(count(lit(1)).as("bucket_n"))

  /** Drop bucket keys whose member count exceeds `maxBucket`, returning the
    * surviving (id, band, bkey) rows. A degenerate corpus — k identical
    * or boilerplate docs — puts k ids in ONE bucket and the self-join emits
    * k² candidate pairs; the cap bounds any bucket's contribution to
    * maxBucket². The contract is exact-dedup-first (identical texts collapse
    * to one representative), so at sane corpora the cap never fires; when it
    * does, the skipped buckets are near-identical boilerplate whose pairs
    * exact/doc-level dedup already covers. Same prefix-filter idea as
    * [[ngramJaccardPairs]]' maxDf.
    *
    * The drop is NOT silent by contract: audit it with [[droppedBuckets]],
    * which returns the over-cap buckets (and how many docs each held) for
    * the same inputs — zero rows certifies that the cap dropped nothing. */
  private def capBuckets(exploded: DataFrame, maxBucket: Int,
      cache: Boolean = true): DataFrame = {
    // corpus-scale callers persist: the exploded bucket table feeds BOTH
    // the size aggregation and the join below (and the caller's
    // self-join), so the signature kernel would otherwise re-run per
    // consumer (guide §5 — reuse beats recompute for a table this narrow:
    // (keys, id) rows). Delta-scale callers (the incremental probe, the
    // stream) pass cache=false: their recompute is small and the extra
    // cache-build barriers measured as a net loss per micro-batch.
    val e = if (cache) exploded.persist(StorageLevel.MEMORY_AND_DISK)
      else exploded
    // both sides shuffle on the bucket key — co-partitioned join, and the
    // downstream self-join reuses the same partitioning
    e.join(bucketSizes(e).filter(col("bucket_n") <= maxBucket).drop("bucket_n"),
      BandKey)
  }

  /** Candidate id pairs from a bucketed self-join: dedup happens on BARE
    * id pairs (16 bytes) before any payload is re-attached, so the
    * distinct() shuffle never carries signature arrays. */
  private def bucketPairIds(buckets: DataFrame, keyCols: Seq[String]): DataFrame = {
    val b = buckets.persist(StorageLevel.MEMORY_AND_DISK)
    b.select(keyCols.map(col) :+ col("id").as("id_a"): _*)
      .join(b.select(keyCols.map(col) :+ col("id").as("id_b"): _*), keyCols)
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"))
      .distinct() // a pair can collide in several buckets
  }

  /** Column `c` of an (id, c) table joined onto both sides of (id_a, id_b)
    * pairs as `c_a` / `c_b`. */
  private def attach(pairIds: DataFrame, t: DataFrame, c: String): DataFrame =
    pairIds
      .join(t.select(col("id").as("id_a"), col(c).as(s"${c}_a")), Seq("id_a"))
      .join(t.select(col("id").as("id_b"), col(c).as(s"${c}_b")), Seq("id_b"))

  /** Effective bucket cap (VERDICT r4 next #3): `maxBucket` if positive,
    * else CORPUS-SIZED — max(1000, ⌈nDocs/2⌉). A surface whose cap can
    * silently bind is a recall leak: at sf0.1 the 8×8-bit simhash blocking
    * put 1460 docs in one bucket and the fixed cap=1000 dropped three
    * buckets' candidates (recorded in the r4 bench audit, recall knowably
    * < 1 at bench scale). A bucket larger than nDocs/2 means > 25% of ALL
    * pairs share one bucket — a degenerate corpus that violated the
    * exact-dedup-first contract — so the corpus-sized cap never binds on
    * sane input while still bounding the blowup a pathological one could
    * cause. Every capped surface and its [[droppedBuckets]] audit resolve
    * the cap here, so the audit always certifies the cap the surface ran
    * with. `nDocs` is by-name: at a fixed positive cap the (possibly
    * job-launching) count is never evaluated. */
  private def effectiveCap(maxBucket: Int, nDocs: => Long): Int =
    if (maxBucket > 0) maxBucket
    else math.min(math.max(1000L, (nDocs + 1) / 2), Int.MaxValue.toLong).toInt

  /** Fan the narrow (id, text) projection of a CORPUS-scale input across
    * the session's cores before kernel work (guide §2/§6: a single small
    * parquet file is one scan split, so every signature kernel otherwise
    * serializes on one core — measured 1.1–4.5 s single-task stages at
    * sf0.1 on local[32]). Call this ONLY at corpus-scale entry points:
    * fanning a small delta (the incremental probe, a stream micro-batch)
    * just multiplies per-stage scheduling overhead — measured a net
    * REGRESSION on dd_stream when applied unconditionally. */
  private def corpusSrc(df: DataFrame, idCol: String, textCol: String): DataFrame =
    Par.fanOut(df.select(col(idCol), col(textCol)))

  /** (id, sig) signature table of a blocking kind — the shared head of the
    * bucket keys and the signature re-attach joins. */
  private def sigTable(df: DataFrame, idCol: String, textCol: String,
      blocking: Blocking): DataFrame =
    df.select(col(idCol).as("id"), blocking.signature(col(textCol)).as("sig"))

  /** The (id, band, bkey) bucket keys of a signature table. */
  private def bucketKeys(sigs: DataFrame, blocking: Blocking): DataFrame =
    sigs.select(col("id"),
      posexplode(transform(sequence(lit(0), lit(blocking.nKeys - 1)),
        i => blocking.key(col("sig"), i))).as(BandKey))

  private def blocked(df: DataFrame, idCol: String, textCol: String,
      blocking: Blocking): DataFrame =
    bucketKeys(sigTable(df, idCol, textCol, blocking), blocking)

  /** Buckets [[estimatePairs]] or [[trueJaccardPairs]] would skip at this
    * `blocking` and `maxBucket`: (band, bkey, bucket_n). Zero rows ⇒ the
    * cap dropped no candidate pairs. Audit with the SAME blocking as the
    * surface being certified — two blockings bucket differently.
    * `maxBucket` has NO default on purpose: the audited surfaces default
    * differently (near-dup pairs 1000, recall surfaces 0 = corpus-sized),
    * so an audit run with a defaulted cap could report drops the surface
    * never makes — the caller must state the cap of the surface it is
    * auditing. */
  def droppedBuckets(df: DataFrame, idCol: String, textCol: String,
      blocking: Blocking, maxBucket: Int): DataFrame =
    bucketSizes(blocked(corpusSrc(df, idCol, textCol), idCol, textCol, blocking))
      .filter(col("bucket_n") > effectiveCap(maxBucket, df.count()))

  /** Near-dup pairs by signature estimate: join on equal bucket keys,
    * keep the pairs whose estimate passes `threshold` — [[Minhash]]: the
    * matching-minhash fraction ≥ threshold, as (id_a, id_b, est_jaccard);
    * [[Simhash]]: hamming ≤ threshold, as (id_a, id_b, hamming). id_a <
    * id_b. `maxBucket` caps any single bucket's size (see [[capBuckets]];
    * 0 = corpus-sized; audit the drop with [[droppedBuckets]]). */
  def estimatePairs(df: DataFrame, idCol: String, textCol: String,
      blocking: Blocking, threshold: Double, maxBucket: Int = 1000): DataFrame = {
    // native codegen'd signature kernels (graft.functions.SignatureExprs);
    // bit-identical to their HOF reference forms (parity-tested).
    // Computed ONCE (persist): the bucket keys + both re-attach joins share it
    val sigs = sigTable(corpusSrc(df, idCol, textCol), idCol, textCol, blocking)
      .persist(StorageLevel.MEMORY_AND_DISK)
    attach(bucketPairIds(capBuckets(bucketKeys(sigs, blocking),
        effectiveCap(maxBucket, df.count())), BandKey), sigs, "sig")
      .withColumn(blocking.estimateCol,
        blocking.estimate(col("sig_a"), col("sig_b")))
      .filter(blocking.keep(col(blocking.estimateCol), threshold))
      .select(col("id_a"), col("id_b"), col(blocking.estimateCol))
  }

  /** Blocked candidates verified by TRUE k-shingle Jaccard (not the
    * signature estimate): bucket-join candidate pairs, re-attach the full
    * shingle sets, compute exact |∩|/|∪|, keep pairs ≥ `trueThreshold`.
    *
    * This is the oracle-checkable RECALL surface: the Spark plan stays
    * bucket-joined, never all-pairs, while a plain-SQL O(n²) exact-Jaccard
    * oracle gates recall end to end. Recall of [[Minhash]] is
    * probabilistic but ~1 at high Jaccard (see its scaladoc). Recall of
    * [[Simhash]] is CERTAIN within the hamming ≤ nBlocks−1 ball (with 8
    * blocks the gate corpus's true pairs sit at hamming ≤ 5, margin 2); a
    * true pair BEYOND the ball is recalled only when it shares a block by
    * luck (observed: sf0.001's J=0.889 pair at hamming 8 does) — watch the
    * margin with [[simhashRecallMaxHamming]]. The bucket cap is
    * CORPUS-SIZED by default (maxBucket = 0 → max(1000, ⌈nDocs/2⌉)) so it
    * cannot silently bind at bench scale the way r4's fixed cap=1000 did
    * (three over-cap buckets at sf0.1, recall knowably < 1) — audit with
    * [[droppedBuckets]](maxBucket = 0). */
  def trueJaccardPairs(df: DataFrame, idCol: String, textCol: String,
      blocking: Blocking, trueThreshold: Double = 0.5,
      maxBucket: Int = 0): DataFrame = {
    // NOTE: no estimate pre-filter before the verify — tempting (8-byte
    // simhash signatures vs ~100-element shingle arrays), but blocking also
    // catches true pairs BEYOND the guaranteed hamming ≤ nBlocks−1 ball by
    // bucket luck, and the recall gate is against pure Jaccard; a
    // pre-filter measurably drops such a pair (sf0.001: J=0.889 at
    // hamming 8) and turns a recall surface into a recall leak.
    val src = corpusSrc(df, idCol, textCol)
    verifyTrueJaccard(
      bucketPairIds(capBuckets(blocked(src, idCol, textCol, blocking),
        effectiveCap(maxBucket, df.count())), BandKey),
      shingleTable(src, idCol, textCol), trueThreshold)
  }

  /** (id, sh) shingle-hash table of a corpus: docs shorter than one full
    * shingle carry none and are excluded (near-dup is undefined below one
    * shingle; the signature kernel's short-doc padding is for bucketing
    * only, and the exact SQL oracles exclude them the same way). The
    * shared head of every true-Jaccard verify, and the `docs` side of the
    * persisted incremental index ([[buildMinhashIndex]]) — one definition
    * so the batch and incremental predicates can't drift. */
  private def shingleTable(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol), col(textCol))
      .filter(size(words(col(textCol))) >= ShingleWords)
      .select(col(idCol).as("id"),
        SignatureExprs.shingleHashes(col(textCol), ShingleWords).as("sh"))
      .filter(size(col("sh")) > 0)

  /** Exact-shingle-Jaccard verification of candidate id pairs against an
    * (id, sh) shingle table: re-attach the full shingle sets, compute
    * |∩|/|∪|, keep ≥ `trueThreshold`. The shared tail of every
    * true-Jaccard surface — one definition, so their verified predicates
    * can't drift apart. The incremental path verifies against INDEXED
    * shingle sets (computed once at build) unioned with the delta's. */
  private def verifyTrueJaccard(pairIds: DataFrame, sh: DataFrame,
      trueThreshold: Double, cacheSh: Boolean = true): DataFrame = {
    // corpus callers persist: the shingle table is joined twice (sh_a,
    // sh_b) and the tokenize+shingle kernel would run once per side. The
    // delta probe passes cacheSh=false — its sh is mostly a parquet read
    // of the index's docs table, where the cache build costs more than
    // the second scan. The jaccard itself is the native kernel (same
    // arithmetic as the old size(array_intersect)/… tail —
    // Signatures.jaccard scaladoc).
    val s = if (cacheSh) sh.persist(StorageLevel.MEMORY_AND_DISK)
      else sh
    attach(pairIds, s, "sh")
      .withColumn("jaccard", SignatureExprs.jaccard(col("sh_a"), col("sh_b")))
      .filter(col("jaccard") >= trueThreshold)
      .select(col("id_a"), col("id_b"), round(col("jaccard"), 6).as("jaccard"))
  }

  /** The keep-one-per-cluster last mile of near-dup dedup: connected
    * components over the verified near-dup pair graph (a doc can chain
    * A≈B≈C without A≈C — transitive closure is required, pair removal is
    * not enough; the chain shape is unit-tested since the synthetic corpus
    * only contains cliques), canonical id = least member by the id's own
    * ordering. Docs in no pair are their own canonical. Pairs come from
    * [[trueJaccardPairs]] over [[Minhash]] — the banded (never all-pairs)
    * candidate path — and the components-to-canonical step is
    * [[ConnectedComponents.canonicalIds]], the one the KG alias
    * canonicalization uses: any id TYPE works. Contract caveats: run exact
    * dedup first (capBuckets' boilerplate contract — a >maxBucket
    * near-identical cluster would otherwise split), and threshold well
    * above the banding floor so pair recall is ~1 (see [[Minhash]]). */
  def canonicalByNearDup(df: DataFrame, idCol: String, textCol: String,
      trueThreshold: Double = 0.5, maxBucket: Int = 0): DataFrame =
    ConnectedComponents.canonicalIds(df.select(col(idCol).as("node")),
        trueJaccardPairs(df, idCol, textCol, Minhash, trueThreshold, maxBucket)
          .select(col("id_a").as("src"), col("id_b").as("dst")))
      .select(col("node").as(idCol), col("canonical_id"))

  /** Margin audit of [[trueJaccardPairs]] over `Simhash(8)`, the simhash
    * recall surface (ADVICE r4): the maximum simhash hamming distance
    * among the pairs it emits. The blocking GUARANTEES recall only within
    * hamming ≤ 7; a max observed hamming at or beyond that edge means the
    * corpus's true pairs are leaving the guaranteed ball and the oracle
    * gate is standing on bucket luck — visible here BEFORE a corpus
    * regeneration flips the gate red. One row: (max_hamming, n_pairs). */
  def simhashRecallMaxHamming(df: DataFrame, idCol: String, textCol: String,
      trueThreshold: Double = 0.5, maxBucket: Int = 0): DataFrame = {
    val blocking = Simhash(8)
    attach(trueJaccardPairs(df, idCol, textCol, blocking, trueThreshold, maxBucket),
        sigTable(df, idCol, textCol, blocking), "sig")
      .agg(max(blocking.estimate(col("sig_a"), col("sig_b"))).as("max_hamming"),
        count(lit(1)).as("n_pairs"))
  }

  /** n-gram Jaccard pairs via a rare-shingle inverted join: only shingles
    * with document frequency ≤ maxDf generate candidates (prefix-filter
    * against hot-shingle quadratic blowup); true Jaccard verified from the
    * full shingle sets. */
  def ngramJaccardPairs(df: DataFrame, idCol: String, textCol: String,
      threshold: Double = 0.5, maxDf: Int = 50): DataFrame = {
    // one persisted shingle table (over the fanned-out corpus) feeds the
    // inverted index, the df count, and both verify joins — previously the
    // tokenize+shingle kernel re-ran per consumer (~6× at sf0.1)
    val sh = shingleTable(corpusSrc(df, idCol, textCol), idCol, textCol)
      .persist(StorageLevel.MEMORY_AND_DISK)
    // the rare-shingle postings are the buckets: candidate ids come from
    // their self-join (persisted, both sides) and the shared verify tail
    // re-attaches the shingle arrays, already persisted above
    val inv = sh.select(col("id"), explode(col("sh")).as("s"))
    val dfCount = inv.groupBy("s").agg(count(lit(1)).as("df"))
    val rare = inv.join(dfCount.filter(col("df") <= maxDf), "s").select("s", "id")
    verifyTrueJaccard(bucketPairIds(rare, Seq("s")), sh, threshold,
      cacheSh = false)
  }

  // ------------------------------------------------------------------
  // Incremental dedup against a persisted minhash band-key index
  // (VERDICT r4 next #5). At 100 TB you dedup a NEW BATCH against the
  // corpus, not the corpus against itself: the corpus's signatures and
  // shingle sets are computed ONCE at index build; a delta probe costs
  // O(delta) signature work + a partition-pruned read of only the index
  // shards the delta's own band keys hash to. Reference analogue: the
  // persisted ES index + supersede semantics (src/app.py:1191-1208) —
  // re-expressed as a partitioned parquet index, the same layout family
  // as LexicalIndex.buildIndex / Similarity.buildVectorIndex.
  // ------------------------------------------------------------------

  /** Build the persisted index of a corpus. Layout:
    *  - `path/bands` — the (id, band, bkey) [[Minhash]] bucket keys,
    *    partitioned by `epoch` (0 at build, the caller-supplied batch id
    *    per append) and `bshard = pmod(bkey, 64)`: a delta probe reads
    *    only the shards its own band keys hash to (parquet partition
    *    pruning, plan-asserted in DedupSpec — pruning on bshard is
    *    unaffected by the epoch nesting). The banding and shard count are
    *    constants, so every build, append and probe of an index agree.
    *  - `path/docs` — the (id, sh) [[shingleTable]] the exact-Jaccard
    *    verify needs, computed once here, never re-derived from text;
    *    partitioned by `epoch` for the same replay scoping.
    *  - `path/meta` — one (n_docs, fold_upto) row per epoch, read only
    *    through [[readIndexMeta]]: full doc counts (summed by the probe's
    *    cap arithmetic) plus the stream-fold watermark (-1 for the build
    *    and plain appends; the covered `uptoBatch` when the epoch was
    *    written by [[graft.streaming.StreamingDedup.foldAndRetire]]).
    *    Riding in meta makes the watermark ATOMIC with the epoch's commit
    *    marker — meta is written last, so a crashed fold never advances
    *    the watermark.
    *  - `path/fence` — written only by [[compactMinhashIndex]]: the
    *    smallest epoch id a post-compaction append may use (the quiesce
    *    contract enforced in code, not scaladoc).
    * Ids must be unique across corpus ∪ any future delta (the ingest
    * contract — Ingest.validate's duplicate-upload guard upstream). The
    * build fans the corpus across the session's cores ([[corpusSrc]]). */
  def buildMinhashIndex(df: DataFrame, idCol: String, textCol: String,
      path: String): Unit =
    writeIndexEpoch(df, corpusSrc(df, idCol, textCol), idCol, textCol, path,
      0L, -1L)

  /** The one index epoch writer: bands ‖ docs, then meta LAST. The bands
    * and docs writes are INDEPENDENT jobs over the same source — run
    * concurrently so one job's kernel/commit back-fills the other's
    * straggler tail; the bands write clusters by bshard
    * ([[PartitionedParquet.writeEpoch]]) so each task holds whole shards.
    * The meta row is the epoch's COMMIT MARKER: a crash before it leaves
    * bands/docs rows whose epoch is absent from meta, and every reader
    * (the probe, compaction) reads only meta-committed epochs, so the
    * partial epoch stays invisible until a retry completes it. `n_docs` is
    * the FULL doc count of `df` (short docs included — `docs` excludes
    * them), so the incremental cap is computed on the same corpus∪delta
    * count as the batch path's effectiveCap. */
  private def writeIndexEpoch(df: DataFrame, src: DataFrame, idCol: String,
      textCol: String, path: String, epoch: Long, foldUpto: Long): Unit = {
    Par.concurrently(
      PartitionedParquet.writeEpoch(
        blocked(src, idCol, textCol, Minhash).withColumn("bshard", shardOf),
        s"$path/bands", epoch, Some("bshard")),
      PartitionedParquet.writeEpoch(shingleTable(src, idCol, textCol),
        s"$path/docs", epoch))
    PartitionedParquet.writeEpoch(df.sparkSession.createDataFrame(
      Seq((df.count(), foldUpto))).toDF("n_docs", "fold_upto"), s"$path/meta", epoch)
  }

  /** The index meta, one bounded read: (epoch, n_docs, fold_upto) per
    * committed epoch. Its epochs are the commit-epoch gate, its doc counts
    * the cap basis, its max `fold_upto` the [[foldWatermark]]. Callers
    * that need more than one of these (the streaming micro-batch: cap +
    * probe) read it once and hand it on via `meta`, instead of paying a
    * meta listing+collect job per use (fixed per-job latency is the
    * streaming path's dominant term). */
  def readIndexMeta(spark: org.apache.spark.sql.SparkSession,
      path: String): Array[(Long, Long, Long)] =
    spark.read.parquet(s"$path/meta")
      .select(col("epoch").cast("long"), col("n_docs"), col("fold_upto"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))

  /** The stream-fold watermark: the highest `uptoBatch` any committed
    * fold epoch covers (-1 if none). Derived from meta — the epoch commit
    * marker — so a fold crashed before its meta write never advances it,
    * and [[graft.streaming.StreamingDedup.foldAndRetire]] re-covers
    * exactly the batches whose index rows never committed (a fold retried
    * at a HIGHER uptoBatch after an append-then-crash must not re-append
    * the already-committed batches). */
  def foldWatermark(meta: Array[(Long, Long, Long)]): Long =
    meta.map(_._3).foldLeft(-1L)(math.max)

  /** The corpus-sized bucket cap for an explicitly-known doc count —
    * public so callers that assemble the basis themselves (the streaming
    * loop: index + seen tail + batch) use the SAME cap arithmetic as the
    * batch surfaces. */
  def capForDocs(nDocs: Long): Int = effectiveCap(0, nDocs)

  /** The index shard of a `bkey` column. */
  private def shardOf: Column = pmod(col("bkey"), lit(IndexShards))

  /** Append a delta batch to an existing index (the accept-and-extend half
    * of the supersede loop: probe first with
    * [[incrementalTrueJaccardPairs]] / [[incrementalNewDocs]], then append
    * what you kept) through the build's epoch writer, unfanned (a delta is
    * small — [[corpusSrc]]). Appended == rebuilt is equality-tested in
    * DedupSpec.
    *
    * `epoch` must uniquely identify this delta batch (> 0; 0 is the
    * build). The write is a dynamic partition overwrite scoped to this
    * epoch's partitions, so a RETRIED append (the crash-and-retry reality
    * of any scheduled ingest job) replaces its own previous output
    * instead of silently duplicating index rows — duplicated (id, sh)
    * rows would multiply verify-join rows and double-count the cap basis.
    *
    * Compaction fence: an epoch below the index's fence
    * ([[graft.util.PartitionedParquet.minNextEpoch]]) was already folded
    * into this compacted copy — a late retry of it would re-add its rows
    * and duplicate the index, so it FAILS LOUDLY here, before any job.
    * `foldUpto` is set only by
    * [[graft.streaming.StreamingDedup.foldAndRetire]]: the highest stream
    * batch this epoch covers, recorded in the meta row so the fold
    * watermark commits atomically with the epoch (meta is written last). */
  def appendToMinhashIndex(delta: DataFrame, idCol: String, textCol: String,
      path: String, epoch: Long, foldUpto: Long = -1L): Unit = {
    PartitionedParquet.requireAppendable(delta.sparkSession, path, epoch)
    writeIndexEpoch(delta, delta, idCol, textCol, path, epoch, foldUpto)
  }

  /** Fold a multi-epoch index (build + any number of appends) back into
    * a single-epoch build at `dstPath` — the maintenance operator that
    * bounds what sustained appends grow without bound: epoch partition
    * dirs (listing cost per probe) and small files (one per append per
    * shard). The rewrite is repartitioned by bshard so each shard lands
    * as ONE file regardless of how many appends fed it. Blue/green by
    * design: the compacted copy is written to a DIFFERENT path and the
    * caller's orchestrator flips its index pointer when done (the
    * reference swaps ES aliases the same way, `src/app.py:1191-1208`) —
    * an in-place rewrite would have a crash window with no readable
    * index at all. Content equality with a from-scratch rebuild and
    * probe-result equality are DedupSpec-tested.
    *
    * Quiesce contract, enforced: the compacted copy carries a `fence`
    * table with `min_next_epoch = max(committed src epoch) + 1`, and
    * [[appendToMinhashIndex]] refuses any epoch below it — a late retry of
    * an epoch already folded into the compacted copy fails loudly instead
    * of re-adding its rows. ONE [[readIndexMeta]] feeds all three uses of
    * the source meta: the rewrite reads ONLY its committed epochs (the
    * same gate as the probe — a half-appended epoch must stay invisible
    * post-compaction too, or compaction would silently "commit" it while
    * the copied doc count excludes it), their doc counts are carried, and
    * so is the [[foldWatermark]], so
    * [[graft.streaming.StreamingDedup.foldAndRetire]] stays idempotent
    * across a pointer flip. */
  def compactMinhashIndex(spark: org.apache.spark.sql.SparkSession,
      srcPath: String, dstPath: String): Unit = {
    val meta = readIndexMeta(spark, srcPath)
    val committed = meta.map(_._1)
    PartitionedParquet.compactEpochs(spark, s"$srcPath/bands",
      s"$dstPath/bands", committed, Some("bshard"))
    PartitionedParquet.compactEpochs(spark, s"$srcPath/docs",
      s"$dstPath/docs", committed)
    PartitionedParquet.writeEpoch(spark.createDataFrame(
        Seq((meta.map(_._2).sum, foldWatermark(meta)))).toDF("n_docs", "fold_upto"),
      s"$dstPath/meta", 0L)
    PartitionedParquet.writeFence(spark, srcPath, dstPath, committed)
  }

  /** Verified near-dup pairs TOUCHING the delta: delta×corpus plus the
    * delta's internal pairs, exact-Jaccard ≥ `trueThreshold`, id_a < id_b.
    * Equals the batch [[trueJaccardPairs]] over [[Minhash]] and corpus ∪ delta
    * restricted to pairs with a delta side (oracle row dd_incremental;
    * also property-tested) — candidate buckets match because a bucket with
    * no delta key contributes no delta pair, the union's bucket contents
    * within a probed shard are complete (bshard is a function of bkey),
    * and the cap is computed on the same corpus∪delta doc count.
    * Scale shape: the index is read partition-pruned to the delta's
    * shards; the only driver materialization is the ≤ 64 shard-id
    * list. The delta side is joined, not broadcast-forced — AQE picks
    * broadcast when the delta is small. */
  def incrementalTrueJaccardPairs(spark: org.apache.spark.sql.SparkSession,
      path: String, delta: DataFrame, idCol: String, textCol: String,
      trueThreshold: Double = 0.5, maxBucket: Int = 0,
      meta: Option[Array[(Long, Long, Long)]] = None): DataFrame = {
    // the delta is read ≥3 times below (banding, shingles, count) and its
    // upstream may be an arbitrary transformation: one eager local
    // checkpoint evaluates that lineage exactly once (delta = an ingest
    // batch, small relative to the corpus by design; the blocks are
    // reclaimed by the session's persistent-RDD sweep)
    val d = delta.select(col(idCol), col(textCol)).localCheckpoint()
    // the delta banding feeds the shard-list collect AND the pair join:
    // persist so the delta's signatures are computed once
    val deltaBanded = blocked(d, idCol, textCol, Minhash)
      .persist(StorageLevel.MEMORY_AND_DISK)
    // bounded driver collect: at most IndexShards values by construction
    val shards = deltaBanded.select(shardOf.as("bshard"))
      .distinct().collect().map(_.getLong(0))
    // meta is written LAST by build/append — its epochs are the commit
    // markers (ADVICE r5): bands/docs rows from a crashed half-append
    // carry an epoch absent from meta and must be invisible to the probe,
    // or the verify join silently drops that epoch's pairs while the cap
    // basis undercounts. Bounded collect: one meta row per append — ONE
    // read serves both the epoch gate and the cap basis's doc count, and
    // a caller that already read the meta (the streaming micro-batch's
    // cap basis) hands it in.
    val metaRows = meta.getOrElse(readIndexMeta(spark, path))
    val committedEpochs = metaRows.map(_._1)
    // explicit selects: the index tables carry an `epoch` partition
    // column (replay scoping) the probe must not leak into its joins
    val idxDocs = spark.read.parquet(s"$path/docs")
      .filter(col("epoch").isin(committedEpochs: _*))
      .select(col("id"), col("sh"))
    val idxBanded = spark.read.parquet(s"$path/bands")
      .filter(col("epoch").isin(committedEpochs: _*)
        && col("bshard").isin(shards: _*))
      .select(col("id"), col("band"), col("bkey"))
    // cap basis = the index's recorded FULL doc count (meta, already
    // collected above) + the delta's full count — the same corpus∪delta
    // basis as the batch path (the `docs` shingle table undercounts by the
    // short docs); by-name, so a fixed positive maxBucket skips the
    // delta count entirely
    val cap = effectiveCap(maxBucket, metaRows.map(_._2).sum + d.count())
    val sh = idxDocs.unionByName(shingleTable(d, idCol, textCol))
    deltaPairsFromBanded(idxBanded, deltaBanded, sh, cap, trueThreshold)
  }

  /** Shared pair tail of the delta-dedup surfaces: flag the two banded
    * sides, cap buckets, pair within buckets keeping ONLY delta-touching
    * pairs (corpus-corpus pairs inside a probed bucket are dropped BEFORE
    * the distinct() shuffle), verify exact Jaccard from `sh`. */
  private def deltaPairsFromBanded(corpusBanded: DataFrame,
      deltaBanded: DataFrame, sh: DataFrame, cap: Int,
      trueThreshold: Double): DataFrame = {
    val union = corpusBanded.withColumn("is_delta", lit(false))
      .unionByName(deltaBanded.withColumn("is_delta", lit(true)))
    val capped = capBuckets(union, cap, cache = false)
    val keys = BandKey.map(col)
    val pairIds = capped
      .select(keys :+ col("id").as("id_a") :+ col("is_delta").as("del_a"): _*)
      .join(capped.select(
        keys :+ col("id").as("id_b") :+ col("is_delta").as("del_b"): _*), BandKey)
      .filter(col("id_a") < col("id_b"))
      .filter(col("del_a") || col("del_b"))
      .select(col("id_a"), col("id_b"))
      .distinct()
    verifyTrueJaccard(pairIds, sh, trueThreshold, cacheSh = false)
  }

  /** [[incrementalTrueJaccardPairs]]' predicate with BOTH sides in-flight
    * (no persisted index): verified near-dup pairs touching the delta,
    * for the case the corpus side is a small already-materialized table —
    * e.g. the streaming accepted-so-far set before its periodic
    * compaction into the index
    * ([[graft.streaming.StreamingDedup]]). */
  def deltaTrueJaccardPairs(corpus: DataFrame, delta: DataFrame,
      idCol: String, textCol: String, trueThreshold: Double = 0.5,
      maxBucket: Int = 0): DataFrame = {
    val cap = effectiveCap(maxBucket, corpus.count() + delta.count())
    val sh = shingleTable(corpus, idCol, textCol)
      .unionByName(shingleTable(delta, idCol, textCol))
    deltaPairsFromBanded(blocked(corpus, idCol, textCol, Minhash),
      blocked(delta, idCol, textCol, Minhash), sh, cap, trueThreshold)
  }

  /** The delta docs that SURVIVE incremental dedup — the left_anti last
    * mile. Supersede rule (reference src/app.py:1191-1208: the corpus is
    * immutable, a new doc matching anything existing is dropped): delta
    * doc d is dropped iff it has a verified pair with a corpus doc, or
    * with a delta doc of smaller id (keep-first within the batch — the
    * batch canonical min-id rule on clique-shaped dup groups; chains that
    * span multiple appends resolve per-batch, the documented incremental
    * semantics). Returns the surviving delta rows (all delta columns). */
  def incrementalNewDocs(spark: org.apache.spark.sql.SparkSession,
      path: String, delta: DataFrame, idCol: String, textCol: String,
      trueThreshold: Double = 0.5, maxBucket: Int = 0,
      meta: Option[Array[(Long, Long, Long)]] = None): DataFrame = {
    // the verified pair set feeds BOTH victim branches below: persist so
    // the whole probe DAG (index scan + banding + verify) runs once
    val pairs = incrementalTrueJaccardPairs(spark, path, delta, idCol,
      textCol, trueThreshold, maxBucket, meta)
      .persist(StorageLevel.MEMORY_AND_DISK)
    val deltaIds = delta.select(col(idCol).as("did"))
    // victims: the greater side of any pair is always dropped when it is
    // a delta doc; the smaller side is dropped only when its partner is a
    // corpus doc (a delta doc can't supersede the immutable corpus)
    val victims = pairs.join(deltaIds, col("id_b") === col("did"))
      .select(col("id_b").as("victim"))
      .unionByName(
        pairs.join(deltaIds, col("id_a") === col("did"))
          .join(deltaIds.select(col("did").as("did_b")),
            col("id_b") === col("did_b"), "left_anti")
          .select(col("id_a").as("victim")))
      .distinct()
    delta.join(victims, col(idCol) === col("victim"), "left_anti")
  }
}
