package graft.operators

import org.apache.spark.sql.Column
import org.apache.spark.sql.{functions => F}

/** Theta sketches — the ClickHouse `uniqTheta`/DataSketches family: a
  * mergeable distinct-count sketch with bounded state that also supports
  * SET ALGEBRA over sketches (union / intersection estimates) — the piece
  * HLL (q_approx_distinct) cannot do and the exact Roaring path
  * (q_bitmap) does at O(distinct) state.
  *
  * Where it sits in the family: exact bitmap (small domains) →
  * uniqUpTo (bounded questions) → HLL (cardinality only) → theta
  * (cardinality + set ops, error ~1/√k).
  *
  * Spark ships the family as built-ins (`theta_sketch_agg`,
  * `theta_sketch_estimate`, `theta_union`, `theta_intersection`, all
  * callable from SQL too); these helpers keep graft's capacity-`k`
  * signatures over them. A sketch holds all of its ids below `k`
  * distinct, so estimates there are exact, and its state does not
  * depend on partitioning or merge order.
  */
object ThetaSketch {

  /** Spark's `lgNomEntries` for graft's capacity `k` (a power of two). */
  private def lg(k: Int): Int = {
    require(k > 0 && Integer.bitCount(k) == 1, s"theta sketch capacity must be a power of two, got $k")
    Integer.numberOfTrailingZeros(k)
  }

  /** Sketch-building aggregate over ids → serialized sketch. */
  def agg(ids: Column, k: Int): Column = F.theta_sketch_agg(ids, lg(k))

  def estimateCol(sketch: Column, k: Int): Column = F.theta_sketch_estimate(sketch)

  def unionEstimateCol(a: Column, b: Column, k: Int): Column =
    F.theta_sketch_estimate(F.theta_union(a, b, lg(k)))

  def intersectEstimateCol(a: Column, b: Column, k: Int): Column =
    F.theta_sketch_estimate(F.theta_intersection(a, b))
}
