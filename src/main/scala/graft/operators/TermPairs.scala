package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The candidate-pair step of every term join, over `(id, term, …)`
  * frames whose FIRST column is the id. Shuffle discipline (the 100 TB
  * shape): callers pass only ids, the term and fixed-width scalars the
  * refine reads (lat/lng, segment endpoints, a SimHash signature); text,
  * cell arrays and vectors re-join the pair set by id afterwards — the
  * id-level-candidates-then-refine shape of *Joinable Search over
  * Multi-Source Spatial Datasets* (ICDE 2025). */
object TermPairs {

  /** `left ⋈ right` on `term`, term dropped. `dedup` dedups on the two id
    * columns: set it only where one pair can share several terms
    * (two-sided coverings, LSH bands) — a point meets a region's DISJOINT
    * covering on at most one term. Non-empty `salts` (hot term → salt
    * factor) route the join through [[Skew.saltedTermJoin]], salting the
    * left side by its id. */
  def pairs(left: DataFrame, right: DataFrame, dedup: Boolean = false,
            salts: Map[String, Int] = Map.empty): DataFrame = {
    val (lid, rid) = (left.columns.head, right.columns.head)
    val joined = Skew.saltedTermJoin(left, right, "term", col(lid), salts).drop("term")
    if (dedup) joined.dropDuplicates(lid, rid) else joined
  }

  /** Distinct pairs of one `(id, term, …)` frame sharing a term (LSH bands
    * and buckets): each column but `term` twice, suffixed `_a`/`_b`, with
    * `id_a < id_b`. */
  def selfPairs(keys: DataFrame): DataFrame = {
    def side(suffix: String) = keys.select(keys.columns.toIndexedSeq.map(c =>
      if (c == "term") col(c) else col(c).as(c + suffix)): _*)
    val id = keys.columns.head
    pairs(side("_a"), side("_b")).where(col(id + "_a") < col(id + "_b")).distinct()
  }
}
