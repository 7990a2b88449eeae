package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions.sqrt
import org.apache.spark.sql.graftshim.VectorDot

/** Column-API entry points for the native vector expressions
  * (implementation: [[org.apache.spark.sql.graftshim.VectorDot]], a
  * codegen'd Catalyst expression).
  */
object vec {
  def dot(a: Column, b: Column): Column = VectorDot.dotColumn(a, b)

  /** ‖a‖₂ via the same fold (sqrt applied outside, as in the HOF form) */
  def norm(a: Column): Column = sqrt(dot(a, a))

  def cosine(a: Column, b: Column): Column = dot(a, b) / (norm(a) * norm(b))
}

/** Column-API entry points for the custom aggregates. */
object agg {
  /** `collect_list` whose aggregation buffer is HARD-bounded at `cap + 1`
    * elements — the safe form of the LSH bucket-cap pattern
    * (implementation + contract: [[org.apache.spark.sql.graftshim.CollectListCapped]]).
    * Callers MUST drop groups whose result exceeds `cap` elements
    * (`filter(size(...) <= cap)`), exactly as with the filter-after-
    * collect_list form this replaces.
    */
  def collectListCapped(c: Column, cap: Int): Column =
    org.apache.spark.sql.graftshim.CollectListCapped.column(c, cap)
}

/** Column-API entry points for Spark's bloom-filter sketch expressions
  * (implementation bridge: [[org.apache.spark.sql.graftshim.BloomBridge]]).
  *
  * The 100 TB pattern these serve (q164): dedup/decontaminate INCOMING data
  * against a PRIOR corpus too big to broadcast exactly — build a
  * fixed-size filter over the prior keys (one aggregation; bytes, not
  * rows, reach the driver), prefilter incoming rows with `mightContain`
  * so definite-new rows never enter the confirm join, and exact-confirm
  * only the positives. Results stay EXACT: the filter's one-sided error
  * (no false negatives) only routes rows, never decides them.
  */
object bloom {
  /** Build a serialized bloom filter over `xxhash64`-hashed keys. */
  def filterAgg(hashed: Column, expectedItems: Long, numBits: Long): Column =
    org.apache.spark.sql.graftshim.BloomBridge.filterAgg(hashed, expectedItems, numBits)

  /** Membership probe against a `lit(bytes)` filter; no false negatives. */
  def mightContain(hashed: Column, filter: Column): Column =
    org.apache.spark.sql.graftshim.BloomBridge.mightContain(hashed, filter)
}
