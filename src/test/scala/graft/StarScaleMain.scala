package graft

import org.apache.spark.sql.functions._

import graft.DevHarness.timed
import graft.ops.{CacheScope, Cluster}

/** Scale evidence for the two connected-components engine paths (q45
  * label propagation vs q180 large-star/small-star): rounds are the cost
  * at scale (every round is a shuffle), and the two algorithms pay them
  * differently —
  *
  *  - label propagation: rounds = graph DIAMETER (min labels travel one
  *    hop per round). The normal near-dup graph (tiny cliques, diameter
  *    ≤ 3) converges in 2–4 rounds; a boilerplate-chained megacluster
  *    of diameter d pays d shuffle rounds.
  *  - star alternation: rounds ≈ log(diameter) — each large-star halves
  *    path distances to the local minimum.
  *
  * Two shapes, both with the same node count:
  *  A. CHAINS — disjoint 65-node paths (diameter 64): the pathological
  *     shape. Label propagation needs 64+ rounds; the star variant
  *     should finish in ~8.
  *  B. MEGAHUB — one node with every other node as a spoke (diameter 2,
  *     maximum skew): the hot-node safety check — neither path may
  *     collect a neighborhood into one task/array, and the common-case
  *     round counts should tie.
  *
  * Equality of the resolved labels is asserted on both shapes.
  *
  * Run: sbt -batch "Test/runMain graft.StarScaleMain [nNodes]"
  */
object StarScaleMain {
  def main(args: Array[String]): Unit = {
    val n = if (args.nonEmpty) args(0).toInt else 50000
    val spark = DevHarness.session()
    import spark.implicits._

    val nodes = (0L until n.toLong).toDF("id").cache()
    nodes.count()

    // A. disjoint 65-node chains — diameter 64
    val chainEdges = (0L until n.toLong).filter(_ % 65 != 64)
      .filter(_ + 1 < n).map(i => (i, i + 1)).toDF("a", "b").cache()
    chainEdges.count()
    println(s"== chains: $n nodes, diameter 64 ==")
    val lpA = CacheScope.withScope { scope =>
      timed("label propagation (needs 64+ rounds)") {
        Cluster.connectedComponents(nodes, "id", chainEdges, "a", "b",
          maxIter = 70, scope = scope)
          .agg(count_distinct(col("component"))).head().getLong(0)
      }
    }
    val stA = CacheScope.withScope { scope =>
      timed("star alternation (~log rounds)") {
        Cluster.connectedComponentsStar(nodes, "id", chainEdges, "a", "b",
          scope = scope)
          .agg(count_distinct(col("component"))).head().getLong(0)
      }
    }
    require(lpA == stA, s"component counts diverge: $lpA vs $stA")
    println(s"components: $lpA (equal)")

    // full-label equality on a sampled slice (cheap, still meaningful)
    CacheScope.withScope { scope =>
      val a = Cluster.connectedComponents(nodes, "id", chainEdges, "a", "b",
        maxIter = 70, scope = scope)
      val b = Cluster.connectedComponentsStar(nodes, "id", chainEdges, "a", "b",
        scope = scope)
      val diff = a.as("x").join(b.as("y"), col("x.id") === col("y.id"))
        .filter(col("x.component") =!= col("y.component")).count()
      require(diff == 0, s"$diff labels diverge on chains")
    }

    // B. megahub — node 0 connected to every other node (diameter 2)
    val hubEdges = (1L until n.toLong).map(i => (0L, i)).toDF("a", "b").cache()
    hubEdges.count()
    println(s"== megahub: $n nodes, one hub, diameter 2 ==")
    val lpB = CacheScope.withScope { scope =>
      timed("label propagation") {
        Cluster.connectedComponents(nodes, "id", hubEdges, "a", "b",
          scope = scope)
          .agg(count_distinct(col("component"))).head().getLong(0)
      }
    }
    val stB = CacheScope.withScope { scope =>
      timed("star alternation") {
        Cluster.connectedComponentsStar(nodes, "id", hubEdges, "a", "b",
          scope = scope)
          .agg(count_distinct(col("component"))).head().getLong(0)
      }
    }
    require(lpB == stB && lpB == 1L, s"megahub must be one component: $lpB vs $stB")
    println(s"components: $lpB (equal)")
    spark.stop()
  }
}
