package graft

import graft.operators.Dedup
import org.apache.spark.sql.functions.col

/** F7: connected components by min-label propagation. */
class ComponentsSpec extends SparkSpecBase {
  import spark.implicits._

  private def components(edges: Seq[(Long, Long)]): Map[Long, Long] =
    Dedup.connectedComponents(edges.toDF("a", "b"), "a", "b")
      .as[(Long, Long)].collect().toMap

  test("chain, triangle and isolated pair resolve to min-id components") {
    // chain 1-2-3-4 (diameter 3), triangle 10-11-12, pair 20-21
    val got = components(Seq((1L, 2L), (2L, 3L), (3L, 4L),
      (10L, 11L), (11L, 12L), (10L, 12L), (20L, 21L)))
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L, 12L -> 10L, 20L -> 20L, 21L -> 20L))
  }

  test("label propagates across a long chain (diameter > one round)") {
    // 8-node path given in worst-case order: needs several rounds
    val edges = (1L to 7L).map(i => (i, i + 1))
    val got = components(edges)
    assert(got.values.toSet == Set(1L))
    assert(got.keySet == (1L to 8L).toSet)
  }

  test("self-loops and duplicate edges are harmless") {
    val got = components(Seq((5L, 5L), (5L, 6L), (6L, 5L), (5L, 6L)))
    assert(got == Map(5L -> 5L, 6L -> 5L))
  }

  private def starComponents(edges: Seq[(Long, Long)]): Map[Long, Long] =
    Dedup.connectedComponentsStar(edges.toDF("a", "b"), "a", "b")
      .as[(Long, Long)].collect().toMap

  test("large-star/small-star matches min-label on random graphs") {
    val rnd = new scala.util.Random(42)
    for (_ <- 1 to 3) {
      val n = 60
      val edges = Seq.fill(70)(
        (rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
      val viaMinLabel = Dedup.connectedComponents(
        edges.toDF("a", "b"), "a", "b", maxIter = 200)
        .as[(Long, Long)].collect().toMap
      assert(starComponents(edges) == viaMinLabel)
    }
  }

  test("star handles self-loops, duplicates and reversed edges") {
    val got = starComponents(Seq((5L, 5L), (5L, 6L), (6L, 5L), (5L, 6L)))
    assert(got == Map(5L -> 5L, 6L -> 5L))
  }

  test("the components dispatcher selects Star for a long chain via the public API") {
    import graft.operators.ComponentsAlgo
    // A 200-node path — min-label's default maxIter=20 would stop
    // short; a caller facing chained boilerplate selects Star through
    // the SAME public seam consumers use and gets the identical
    // labeling contract in O(log d) rounds.
    val edges = (1L until 200L).map(i => (i, i + 1)).toDF("a", "b")
    val viaStar = Dedup.components(edges, "a", "b", ComponentsAlgo.Star)
      .as[(Long, Long)].collect().toMap
    assert(viaStar.keySet == (1L to 200L).toSet)
    assert(viaStar.values.toSet == Set(1L))
    // and on a star-like graph both choices agree bit-for-bit
    val small = Seq((1L, 2L), (2L, 3L), (10L, 11L), (12L, 12L)).toDF("a", "b")
    val a = Dedup.components(small, "a", "b", ComponentsAlgo.MinLabel)
      .as[(Long, Long)].collect().toMap
    val b = Dedup.components(small, "a", "b", ComponentsAlgo.Star)
      .as[(Long, Long)].collect().toMap
    assert(a == b)
  }

  test("Auto converges as MinLabel on star shapes and falls over to Star on chains") {
    import graft.operators.ComponentsAlgo
    // star-like (the near-dup shape): Auto = MinLabel's labeling,
    // within the round cap — no fallback
    val small = Seq((1L, 2L), (2L, 3L), (10L, 11L), (12L, 12L)).toDF("a", "b")
    val auto = Dedup.components(small, "a", "b", ComponentsAlgo.Auto)
      .as[(Long, Long)].collect().toMap
    val ml = Dedup.components(small, "a", "b", ComponentsAlgo.MinLabel)
      .as[(Long, Long)].collect().toMap
    assert(auto == ml)
    // a 200-node path: the AutoRoundCap trips (diameter 199 ≫ 5) and
    // the Star fallback still yields the full min-label contract —
    // the case where plain MinLabel at maxIter=20 would stop short
    val chain = (1L until 200L).map(i => (i, i + 1)).toDF("a", "b")
    val viaAuto = Dedup.components(chain, "a", "b", ComponentsAlgo.Auto)
      .as[(Long, Long)].collect().toMap
    assert(viaAuto.keySet == (1L to 200L).toSet)
    assert(viaAuto.values.toSet == Set(1L))
  }

  test("MinLabel, Star and Auto agree on a mixed stars + chains + cliques graph") {
    import graft.operators.ComponentsAlgo
    import org.apache.spark.sql.functions.{explode, expr}
    // the mixed near-dup population: diameter-2 stars, diameter-15
    // chains (past Auto's round cap, so Auto falls over to Star) and
    // 8-cliques, interleaved in one edge list
    val (stars, chains, cliques) = (200L, 20L, 10L)
    val starEdges = spark.range(stars * 7)
      .select(expr("(id DIV 7) * 8").as("a"), expr("(id DIV 7) * 8 + id % 7 + 1").as("b"))
    val chainEdges = spark.range(chains * 16).filter(col("id") % 16 =!= 15)
      .select((col("id") + 100000L).as("a"), (col("id") + 100001L).as("b"))
    val cliquePairs = (for (i <- 0 until 8; j <- i + 1 until 8)
      yield s"named_struct('i', $i, 'j', $j)").mkString("array(", ", ", ")")
    val cliqueEdges = spark.range(cliques)
      .select(col("id"), explode(expr(cliquePairs)).as("p"))
      .select((col("id") * 8 + col("p.i") + 200000L).as("a"),
        (col("id") * 8 + col("p.j") + 200000L).as("b"))
    val edges = starEdges.unionByName(chainEdges).unionByName(cliqueEdges)
    def labels(algo: ComponentsAlgo): Map[Long, Long] =
      Dedup.components(edges, "a", "b", algo, maxIter = 100)
        .as[(Long, Long)].collect().toMap
    val viaMinLabel = labels(ComponentsAlgo.MinLabel)
    assert(viaMinLabel.size == stars * 8 + chains * 16 + cliques * 8)
    assert(viaMinLabel.values.toSet.size == stars + chains + cliques)
    assert(labels(ComponentsAlgo.Star) == viaMinLabel)
    assert(labels(ComponentsAlgo.Auto) == viaMinLabel)
  }

  test("semanticDedup output is algo-invariant (MinLabel vs Star)") {
    import graft.operators.{ComponentsAlgo, Embeddings}
    // tiny deterministic corpus: 3 clusters of near-identical vectors
    val vecs = (0 until 24).map { i =>
      val c = i % 3
      val base = Array.tabulate(4)(d => if (d == c) 1.0f else 0.01f * c)
      base(3) = base(3) + i / 3 * 1e-4f // tiny within-cluster jitter
      (i.toLong, base)
    }
    val df = vecs.toDF("vec_id", "embedding")
    val init = df.filter(col("vec_id") < 3)
    def run(algo: ComponentsAlgo) =
      Embeddings.semanticDedup(df, init, "vec_id", "embedding", 3, 0.99, algo)
        .orderBy("component").collect().toSeq
    assert(run(ComponentsAlgo.MinLabel) == run(ComponentsAlgo.Star))
  }

  test("star resolves a diameter-127 chain in O(log d) rounds") {
    // Min-label propagates the min ONE hop per round: this chain
    // would cost it ~127 rounds (and its default maxIter = 20 would
    // stop short). Large-star/small-star halves-and-hooks: the same
    // graph converges in a handful of rounds.
    val n = 128L
    val edges = (1L until n).map(i => (i, i + 1)).toDF("a", "b")
    val (labels, rounds) = Dedup.starComponents(edges, "a", "b", 30)
    val got = labels.as[(Long, Long)].collect().toMap
    assert(got.keySet == (1L to n).toSet)
    assert(got.values.toSet == Set(1L))
    assert(rounds <= 8, s"star took $rounds rounds on diameter ${n - 1}")
  }
}
