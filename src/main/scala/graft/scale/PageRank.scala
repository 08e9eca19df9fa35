package graft.scale

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Encoders}

import scala.collection.mutable.LongMap

/** General PageRank over an arbitrary edge list — the real operator behind
  * q62's closed-form gate (reference: the crawl-graph link-authority signal;
  * cf. tribbloid/spookystuff's explore lineage, which materializes exactly
  * the (parent uri, child uri) edges this consumes; Page et al. 1999).
  *
  * Semantics (the scaled convention, ranks sum to N):
  * `pr'(v) = (1 - d) + d * (Σ_{u→v} pr(u)/outdeg(u) + danglingMass / N)`
  * where `danglingMass = Σ pr(u)` over nodes with no out-edges — their rank
  * is redistributed uniformly instead of leaking (the standard fix; without
  * it total mass decays every iteration on any graph with sinks). Parallel
  * edges are kept as a multiset (a page linking twice contributes twice) —
  * the q62 convention. A node is dangling when no edge has it as src; an
  * edge whose src is not a node holds no rank and contributes nothing.
  *
  * Scale shape: the [[CoPartitioned]] loop. Setup keys the node vector
  * `(id, (pr, prev, outdeg))` by the edge index's partitioner, counting
  * out-degree once per src inside its partition. Each iteration is a
  * narrow `zipPartitions` that emits `pr/outdeg` along every out-edge, ONE
  * map-side-combined `reduceByKey` exchange onto the node partitioner, and
  * a narrow `zipPartitions` that writes the new ranks (the old rank rides
  * along as `prev`). Neither ranks nor edges ever reshuffle.
  *
  * Checkpointing: when an iteration's scalars are needed (the L1 delta for
  * the tol stop, or the dangling mass the next iteration redistributes),
  * its node vector is localCheckpointed and ONE `aggregate` both fills the
  * blocks and returns the scalars; the previous checkpoint is released at
  * once — O(1) executor storage over any number of iterations. The setup
  * node vector is materialised the same way by the one job that counts
  * nodes and dangling nodes, so the first iteration's dangling mass,
  * `nDangling · 1.0`, needs no job. When no scalar is needed (no dangling
  * nodes, tol = 0 — q62, or q64's last iteration), iterations stay lineage
  * and only every `checkpointEvery`-th one truncates. The edge index is
  * released as soon as the final ranks no longer read it; otherwise
  * [[Result.release]] does.
  *
  * Driver-side state: one Double pair per iteration (delta, dangling
  * mass) — the bounded-aggregate pattern of PrefixSum/Bpe, never row data.
  *
  * @param nodes distinct node ids, column `id` (castable to long); a null
  *              id is dropped
  * @param edges directed links, columns `src`, `dst`. An edge with a null
  *              src is dropped. A dst outside `nodes`, or null, counts
  *              toward its src's out-degree and its share leaks (nodes
  *              defines the universe)
  * @param tol   L1 convergence threshold on Σ|pr' - pr|; 0 = run exactly
  *              `maxIter` iterations
  */
object PageRank {

  /** @param ranks (id, pr) — backed by the final checkpoint when the last
    *              iteration materialised, otherwise lineage over it
    * @param iterations iterations actually run
    * @param delta final Σ|pr' - pr| (NaN when tol = 0 — never computed)
    */
  final class Result private[PageRank] (
      val ranks: DataFrame, val iterations: Int, val delta: Double,
      handles: Seq[RDD[_]]) {
    /** Releases executor storage still held for `ranks` (the final
      * checkpoint blocks, and the edge index if `ranks` still reads it).
      * Call after consuming `ranks`; the DataFrame must not be re-executed
      * afterwards.
      */
    def release(): Unit = handles.foreach(_.unpersist(blocking = false))
  }

  def run(nodes: DataFrame, edges: DataFrame, damping: Double = 0.85,
          tol: Double = 0.0, maxIter: Int = 20,
          checkpointEvery: Int = 5): Result = {
    require(damping > 0 && damping < 1, s"damping must be in (0,1): $damping")
    require(maxIter >= 1, s"maxIter must be >= 1: $maxIter")
    require(checkpointEvery >= 1, s"checkpointEvery must be >= 1: $checkpointEvery")
    val g = CoPartitioned(nodes, edges)
    // every edge of a src sits in its src's partition, so out-degree is a
    // partition-local count (null-dst edges included)
    val v0 = g.ids.zipPartitions(g.edgesBySrc) { (iit, eit) =>
      val deg = new LongMap[Int]()
      eit.foreach { case (s, _) => deg.update(s, deg.getOrElse(s, 0) + 1) }
      iit.map(id => (id, (1.0, 1.0, deg.getOrElse(id, 0))))
    }
    v0.localCheckpoint()
    val (n, nDangling) = v0.aggregate((0L, 0L))(
      (acc, t) => (acc._1 + 1, if (t._2._3 == 0) acc._2 + 1 else acc._2),
      (a, b) => (a._1 + b._1, a._2 + b._2))
    if (n == 0) { v0.unpersist(blocking = false); g.release() }
    require(n > 0, "pagerank needs a non-empty node set")
    val base = 1.0 - damping

    var ranks: RDD[(Long, (Double, Double, Int))] = v0
    var held: RDD[_] = v0 // the latest materialised node vector
    var materialised = true
    // initial ranks are EXACTLY 1.0 each, so the first iteration's mass
    // is exact in any summation order
    var dm = nDangling.toDouble
    var iter = 0
    var delta = Double.NaN
    var converged = false
    while (iter < maxIter && !converged) {
      iter += 1
      val inflow = ranks.zipPartitions(g.edgesBySrc) { (vit, eit) =>
        val share = new LongMap[Double]()
        vit.foreach { case (id, (pr, _, deg)) => if (deg > 0) share.update(id, pr / deg) }
        eit.flatMap { case (s, d) =>
          if (d != null && share.contains(s)) Iterator.single((d.longValue, share(s)))
          else Iterator.empty
        }
      }.reduceByKey(g.part, _ + _)
      val teleport = dm / n
      val next = ranks.zipPartitions(inflow) { (vit, iit) =>
        val in = new LongMap[Double]()
        iit.foreach { case (id, c) => in.update(id, c) }
        vit.map { case (id, (pr, _, deg)) =>
          (id, (base + damping * (in.getOrElse(id, 0.0) + teleport), pr, deg))
        }
      }
      materialised = tol > 0 || (nDangling > 0 && iter < maxIter) ||
        iter % checkpointEvery == 0
      if (materialised) {
        next.localCheckpoint()
        val (d, m) = next.aggregate((0.0, 0.0))(
          (acc, t) => (acc._1 + math.abs(t._2._1 - t._2._2),
            if (t._2._3 == 0) acc._2 + t._2._1 else acc._2),
          (a, b) => (a._1 + b._1, a._2 + b._2))
        if (tol > 0) { delta = d; converged = d <= tol }
        dm = m
        held.unpersist(blocking = false)
        held = next
      }
      ranks = next
    }
    val handles =
      if (materialised) { g.release(); Seq(held) } else Seq(held, g.edgesBySrc)
    val out = ranks.map { case (id, (pr, _, _)) => (id, pr) }
    new Result(nodes.sparkSession.createDataset(out)(
        Encoders.tuple(Encoders.scalaLong, Encoders.scalaDouble)).toDF("id", "pr"),
      iter, delta, handles)
  }
}
