package graft

import graft.operators.ConnectedComponents

/** Distributed connected components (SURVEY §2.9 C1/C2): min-label
  * propagation, its star-contraction fallback past `maxIter`, and the
  * fixpoint property. */
class ConnectedComponentsSpec extends GraftSuite {
  import spark.implicits._

  test("CC: 100-node path exceeds min-label maxIter, run() falls back to " +
      "star contraction and still returns the exact components") {
    val path = (0L until 99L).map(i => (i, i + 1)).toDF("src", "dst")
    val out = ConnectedComponents.run(path, maxIter = 10)
      .as[(Long, Long)].collect().toMap
    assert(out.size == 100 && out.values.forall(_ == 0L))
  }

  test("star contraction == min-label on assorted graphs (incl. isolated " +
      "self-loops and multi-component)") {
    val edges = Seq(
      (1L, 2L), (2L, 3L), (3L, 4L),       // path
      (10L, 11L), (11L, 12L), (10L, 12L), // triangle
      (20L, 20L),                          // isolated self-loop
      (30L, 31L)                           // pair
    ).toDF("src", "dst")
    val byStar = ConnectedComponents.runStarContraction(edges)
      .as[(Long, Long)].collect().toMap
    val byMinLabel = ConnectedComponents.run(edges, maxIter = 25)
      .as[(Long, Long)].collect().toMap
    assert(byStar == byMinLabel)
    assert(byStar(4L) == 1L && byStar(12L) == 10L && byStar(20L) == 20L
      && byStar(31L) == 30L)
  }

  test("connected components: chain, clique, isolated node") {
    import spark.implicits._
    val edges = Seq(
      (1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (5L, 6L), (6L, 7L), // chain
      (10L, 11L), (11L, 12L), (10L, 12L),                         // triangle
      (20L, 20L))                                                 // isolated
      .toDF("src", "dst")
    val comp = ConnectedComponents.run(edges).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert((1L to 7L).map(comp).toSet === Set(1L))
    assert((10L to 12L).map(comp).toSet === Set(10L))
    assert(comp(20L) === 20L)
  }

  test("CC is idempotent: running on its own output changes nothing") {
    import spark.implicits._
    val edges = Seq((1L, 2L), (2L, 3L), (7L, 8L)).toDF("src", "dst")
    val c1 = ConnectedComponents.run(edges)
    val asEdges = c1.select(org.apache.spark.sql.functions.col("id").as("src"),
      org.apache.spark.sql.functions.col("comp").as("dst"))
    val c2 = ConnectedComponents.run(asEdges).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val c1m = c1.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(c1m.forall { case (id, comp) => c2(id) == comp })
  }
}
