package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Connected components over an edge table via iterative DataFrame
  * self-joins (SURVEY.md §2.11 C1/C2; the Spark restatement of the
  * reference's hand-rolled union-find cluster merge,
  * `src/algorithms/voting.py:46-103`).
  *
  * Two algorithms behind one API:
  *
  *  - '''min-label propagation''' (the primary): every node repeatedly
  *    adopts the minimum component id among itself and its neighbours;
  *    converges in O(graph diameter) rounds — the right shape for our alias
  *    graphs (tiny diameters: alias cliques bridged by shared CUIs).
  *  - '''large-star / small-star contraction''' (Kiveris et al., "Connected
  *    Components in MapReduce and Beyond", SoCC 2014): converges in
  *    O(log² n) rounds regardless of diameter. [[run]] switches to it
  *    automatically when min-label fails to converge within `maxIter` —
  *    e.g. a path-shaped near-dup chain of incremental edits, which
  *    `Dedup.canonicalByNearDup` can legitimately meet at 100 TB
  *    (VERDICT r3 item 8; the old behavior was a loud throw).
  *
  * Shared scale notes (north rule):
  *   - `localCheckpoint()` every round cuts the exponentially-growing
  *     lineage (SURVEY §7.4 risk 3), lazily — the convergence aggregate
  *     that follows doubles as the materialization action, so each round
  *     costs ONE job;
  *   - min-label convergence is a single cheap aggregate — component ids
  *     only ever DECREASE, so sum(comp) is strictly monotone and stabilizes
  *     exactly at the fixpoint; star-contraction convergence compares the
  *     edge SET across rounds via (count, bit_xor of row hashes) — one
  *     aggregate, no row-diff join;
  *   - high-degree hubs (mega-alias concepts) are fine under min-label
  *     because the hot side of the join is the EDGE table, which AQE
  *     skew-join splits; under star contraction each round strictly
  *     shrinks hub neighbourhoods toward the component minimum.
  */
object ConnectedComponents {

  /** edges(src: long, dst: long) -> (id: long, comp: long); isolated nodes
    * must be passed as self-loops if they should appear in the output.
    * Min-label first; if the graph's diameter exceeds `maxIter` rounds,
    * falls back to [[runStarContraction]] (diameter-independent) instead
    * of failing — the result is the same fixpoint either way. */
  def run(edges: DataFrame, maxIter: Int = 25): DataFrame =
    minLabel(edges, maxIter).getOrElse {
      edges.sparkSession.sparkContext.setJobDescription(
        "graft CC: min-label hit maxIter, switching to star contraction")
      runStarContraction(edges)
    }

  /** Canonical id of every node: `nodes` (a `node` column of any type,
    * duplicates allowed) and `edges` (src, dst) over node values →
    * (node, canonical_id), the canonical id being the least member of the
    * node's component by the node type's own ordering. Every node enters
    * as a self-loop, so a node in no edge is its own canonical. Nodes ride
    * [[run]] as 64-bit hashes of their string form: a collision merges two
    * components with probability ~n²/2^64 — negligible and never silent
    * row loss. Not persisted: the node distinct and the joins against
    * [[run]]'s already-checkpointed output recompute cheaply (two cache
    * builds here measured +0.7 s on near-dup canonicalization at sf0.1). */
  def canonicalIds(nodes: DataFrame, edges: DataFrame): DataFrame = {
    def hash(c: String) = xxhash64(col(c).cast("string"))
    val ids = nodes.select(col("node")).distinct().withColumn("id", hash("node"))
    val withComp = ids
      .join(run(edges.select(hash("src").as("src"), hash("dst").as("dst"))
        .unionByName(ids.select(col("id").as("src"), col("id").as("dst")))), "id")
      .select(col("node"), col("comp"))
    withComp.join(withComp.groupBy("comp").agg(min(col("node")).as("canonical_id")), "comp")
      .select(col("node"), col("canonical_id"))
  }

  /** Min-label propagation; None when not converged within `maxIter`. */
  private def minLabel(edges: DataFrame, maxIter: Int): Option[DataFrame] = {
    val sym = edges.select(col("src"), col("dst"))
      .union(edges.select(col("dst").as("src"), col("src").as("dst")))
      .distinct()
      .localCheckpoint()

    var comp = sym.select(col("src").as("id")).distinct()
      .withColumn("comp", col("id"))
      .localCheckpoint(false)

    // decimal(38,0) sum: ids are arbitrary 64-bit hashes, ANSI mode would
    // overflow a long sum; the decimal sum stays exact and monotone
    def compSum(df: DataFrame): java.math.BigDecimal =
      df.agg(sum(col("comp").cast("decimal(38,0)"))).head()
        .getDecimal(0)

    var lastSum = compSum(comp)
    var i = 0
    var converged = false
    while (!converged && i < maxIter) {
      val nbrMin = sym.join(comp, sym("src") === comp("id"))
        .groupBy(col("dst").as("nid"))
        .agg(min(col("comp")).as("ncomp"))
      val next = comp.join(nbrMin, comp("id") === nbrMin("nid"), "left")
        .select(col("id"),
          least(col("comp"), coalesce(col("ncomp"), col("comp"))).as("comp"))
        .localCheckpoint(false)
      val s = compSum(next)
      converged = s.compareTo(lastSum) == 0
      lastSum = s
      comp = next
      i += 1
    }
    if (converged) Some(comp) else None
  }

  /** Large-star round: for every node u (over the symmetrized edge list),
    * m = min(Γ(u) ∪ {u}); emit (v, m) for each neighbour v > u. */
  private def largeStar(e: DataFrame): DataFrame = {
    val sym = e.select(col("src"), col("dst"))
      .union(e.select(col("dst").as("src"), col("src").as("dst")))
      .distinct()
    val mins = sym.groupBy(col("src"))
      .agg(min(col("dst")).as("mn"))
      .select(col("src").as("u"), least(col("mn"), col("src")).as("m"))
    sym.join(mins, sym("src") === mins("u"))
      .where(col("dst") > col("src"))
      .select(col("dst").as("src"), col("m").as("dst"))
      .distinct()
  }

  /** Small-star round: direct every edge high→low; for every node u,
    * m = min(Γ_small(u) ∪ {u}); emit (v, m) for v ∈ Γ_small(u) ∪ {u},
    * v ≠ m. */
  private def smallStar(e: DataFrame): DataFrame = {
    val dir = e.where(col("src") =!= col("dst"))
      .select(greatest(col("src"), col("dst")).as("u"),
        least(col("src"), col("dst")).as("v"))
      .distinct()
    val mins = dir.groupBy("u").agg(min(col("v")).as("m"))
    dir.join(mins, "u")
      .select(col("v"), col("m"))
      .union(mins.select(col("u").as("v"), col("m")))
      .where(col("v") =!= col("m"))
      .select(col("v").as("src"), col("m").as("dst"))
      .distinct()
  }

  /** Diameter-independent CC: alternate large-star/small-star until the
    * edge set is a fixpoint (a star forest centred on each component's
    * minimum id). O(log² n) rounds worst case — `maxIter` = 40 covers any
    * realizable graph; exceeding it still throws loudly (wrong canonical
    * ids are worse than a failure). Same contract as [[run]]. */
  def runStarContraction(edges: DataFrame, maxIter: Int = 40): DataFrame = {
    val nodes = edges.select(col("src").as("id"))
      .union(edges.select(col("dst").as("id")))
      .distinct()
      .localCheckpoint()

    // edge-set signature: (row count, order-independent xor of row hashes)
    // — one aggregate job per round, doubles as the lazy-checkpoint
    // materializer; both components must match for convergence
    def signature(df: DataFrame): (Long, Long) = {
      val r = df.agg(count(lit(1)), coalesce(bit_xor(xxhash64(col("src"), col("dst"))), lit(0L))).head()
      (r.getLong(0), r.getLong(1))
    }

    var e = edges.where(col("src") =!= col("dst"))
      .select(col("src"), col("dst")).distinct()
      .localCheckpoint(false)
    var lastSig = signature(e)
    var i = 0
    var converged = e.isEmpty // edgeless graph: nothing to contract
    while (!converged && i < maxIter) {
      val next = smallStar(largeStar(e)).localCheckpoint(false)
      val sig = signature(next)
      converged = sig == lastSig
      lastSig = sig
      e = next
      i += 1
    }
    if (!converged)
      throw new IllegalStateException(
        s"star-contraction CC did not converge in $maxIter rounds")
    // The per-round signature is a 64-bit hash — a collision between two
    // DIFFERENT consecutive edge sets would declare a false fixpoint and
    // silently emit wrong components. Confirm the fixpoint EXACTLY once:
    // one more round must reproduce the edge set (symmetric difference
    // empty). One extra pair of set-op jobs at convergence time only —
    // the per-round loop stays one-aggregate cheap.
    if (!e.isEmpty) {
      val again = smallStar(largeStar(e))
      val diff = again.exceptAll(e).limit(1).count() +
        e.exceptAll(again).limit(1).count()
      require(diff == 0L,
        "star-contraction signature collision: declared fixpoint is not one")
    }
    // fixpoint e is a star forest: (v, root) for every non-root v; roots
    // and isolated nodes map to themselves
    nodes.join(e.select(col("src").as("id"), col("dst").as("root")), Seq("id"), "left")
      .select(col("id"), coalesce(col("root"), col("id")).as("comp"))
  }
}
