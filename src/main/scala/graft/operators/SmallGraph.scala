package graft.operators

import org.apache.spark.sql.Dataset

/** The small-graph regime decision of [[LinkGraph.pageRank]],
 *  [[LinkGraph.opic]], [[Redirects.resolve]] and
 *  [[TextDedup.duplicateClusters]]: a small edge list replays the same
 *  arithmetic on the driver, a large one runs the distributed loop. */
private[graft] object SmallGraph {

  /** Default driver-local edge bound: 2M × 16-byte edges ≈ 32 MB plus
   *  transient Row overhead. */
  val EdgeThreshold: Long = 2000000L

  /** The rows of `ds` iff there are at most `threshold` of them. The size
   *  gate and the edge fetch are ONE short-circuiting `limit(threshold+1)`
   *  collect: the local regime gets the rows it needs anyway, driver
   *  memory stays bounded by the threshold, and no full `count()` runs
   *  just to pick a regime. Only a genuinely large input pays a second
   *  evaluation, in its distributed branch. A negative threshold always
   *  answers None (the distributed regime, even for an empty input). */
  def collect[T](ds: Dataset[T], threshold: Long): Option[Array[T]] =
    if (threshold < 0) None
    else {
      val probe = ds.limit(threshold.min(Int.MaxValue - 1L).toInt + 1).collect()
      if (probe.length <= threshold) Some(probe) else None
    }
}
