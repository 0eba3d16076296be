package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Deterministic sequential id assignment — the Spark re-expression of
  * the reference's single-threaded id generator (`_id_gen`,
  * changegen/generator.py:161-166: sequential ids from `id_offset`,
  * optionally descending for negative-id workflows).
  *
  * A global counter is inherently serial; the distributed equivalent is
  * a total order on a (unique) sort key. Implementation: range-partition
  * by the key, sort within partitions, then add per-partition offsets —
  * the classic zipWithIndex contract, but columnar end-to-end
  * (optimization round 19): the former `rdd.zipWithIndex` ran an EAGER
  * per-partition count job at call time, RE-computed the sorted input
  * at every downstream materialization, and pushed every row through
  * external Row objects (off the codegen path, defeating column
  * pruning under it). Now the sorted frame materializes ONCE
  * (localCheckpoint pins the partitioning), per-partition row indexes
  * come from `monotonically_increasing_id` over the pinned partitions
  * (id = partitionId·2³³ + row index in partition order — frozen by
  * the checkpoint), and the per-partition rank offsets — one tiny
  * aggregation over the cached blocks — fold back in as a literal map.
  * No single-partition window, no driver-side loop: scales to
  * arbitrary row counts (the offset map is one entry per PARTITION).
  */
object SequentialIds {

  /** Assign `idCol` = offset + rank (or offset - rank when `negative`),
    * rank starting at 0 in ascending order of `orderCol` (must be
    * unique for determinism).
    */
  def assign(df: DataFrame, orderCol: String, idCol: String, offset: Long, negative: Boolean = false): DataFrame =
    assignCounted(df, orderCol, idCol, offset, negative)._1

  /** [[assign]] plus the input's row count — FREE for callers that
    * need both (the offset pass already counts every partition;
    * ChangegenPipeline used to run a separate count() job for its
    * way-id base). */
  def assignCounted(df: DataFrame, orderCol: String, idCol: String, offset: Long, negative: Boolean = false): (DataFrame, Long) = {
    val parts = math.max(df.rdd.getNumPartitions, 1)
    // helper column name the caller's frame does not already use
    // (Spark resolves names case-insensitively)
    val mono = Iterator.iterate("_mono")(_ + "_")
      .find(c => !df.columns.exists(_.equalsIgnoreCase(c))).get
    val sorted = df.repartitionByRange(parts, col(orderCol))
      .sortWithinPartitions(orderCol)
      .withColumn(mono, monotonically_increasing_id())
      .localCheckpoint()
    // rank offset of each partition = rows in partitions before it;
    // partition id and in-partition index unpack from the mono id
    val pid = shiftright(col(mono), 33)
    val localIdx = col(mono).bitwiseAND(lit((1L << 33) - 1))
    val counts = sorted.groupBy(pid.as("_pid")).agg(count(lit(1)).as("_n"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
    val offsets: Map[Long, Long] = counts
      .scanLeft((-1L, 0L, 0L)) { case ((_, _, cum), (p, n)) => (p, cum, cum + n) }
      .drop(1).map { case (p, before, _) => p -> before }.toMap
    val rank = coalesce(element_at(typedLit(offsets), pid), lit(0L)) + localIdx
    val id = if (negative) lit(offset) - rank else lit(offset) + rank
    (sorted.withColumn(idCol, id.cast("long")).drop(mono), counts.map(_._2).sum)
  }
}
