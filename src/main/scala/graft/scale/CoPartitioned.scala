package graft.scale

import org.apache.spark.HashPartitioner
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Encoders}
import org.apache.spark.sql.functions.col
import org.apache.spark.storage.StorageLevel

/** The layout every graph loop here iterates over ([[PageRank]], label
  * propagation): node ids and the src-keyed edge index laid out by ONE
  * hash partitioner. Node state that keeps this layout meets its out-edges
  * in a narrow `zipPartitions` (partition i of both holds exactly the keys
  * `part` maps to i), so a round's only exchange is the per-dst combine of
  * what those edges emit, keyed back onto `part`. Edges never reshuffle
  * after setup.
  *
  * @param ids        node ids (the input's `id`, nulls dropped) in `part`'s
  *                   layout — the RDD carries no partitioner of its own
  * @param edgesBySrc every input edge with a non-null src, keyed by src and
  *                   persisted (each round re-reads it). `dst` is null
  *                   where the input's was: such an edge has no target,
  *                   and each loop says what it counts for
  */
final class CoPartitioned private (
    val part: HashPartitioner, val ids: RDD[Long],
    val edgesBySrc: RDD[(Long, java.lang.Long)]) {

  /** Releases the persisted edge index. State already materialised from it
    * stays valid; lineage still reading it recomputes from the shuffle.
    */
  def release(): Unit = edgesBySrc.unpersist(blocking = false)
}

object CoPartitioned {

  /** @param nodes column `id` (castable to long)
    * @param edges columns `src`, `dst` (castable to long)
    */
  def apply(nodes: DataFrame, edges: DataFrame): CoPartitioned = {
    val edgesRaw = edges
      .select(col("src").cast("long"), col("dst").cast("long"))
      .filter(col("src").isNotNull)
      .as(Encoders.tuple(Encoders.scalaLong, Encoders.LONG)).rdd
    // width follows the EDGE input's own scan parallelism (partitioning
    // from data size, not local cores, the ExploreExec rule): a narrow
    // test graph stays 1-few partitions, no rounds of empty tasks, while an
    // edge table whose scan shards clamps to defaultParallelism exactly as
    // a shuffle would
    val part = new HashPartitioner(math.max(1, math.min(
      nodes.sparkSession.sparkContext.defaultParallelism, edgesRaw.getNumPartitions)))
    val edgesBySrc = edgesRaw.partitionBy(part)
    edgesBySrc.persist(StorageLevel.MEMORY_AND_DISK)
    val ids = nodes.select(col("id").cast("long")).filter(col("id").isNotNull)
      .as(Encoders.scalaLong).rdd
      .map(id => (id, ())).partitionBy(part).keys
    new CoPartitioned(part, ids, edgesBySrc)
  }
}
