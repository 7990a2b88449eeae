package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Bucketized range join — the scale path for joins whose ONLY predicate is
  * a range containment (no equi key).
  *
  * Spark plans an equi-key-less theta join as BroadcastNestedLoopJoin:
  * O(|L|·|R|) comparisons and a full broadcast of one side — unusable at
  * 100 TB. The standard fix (DuckDB's IEJoin, Databricks' range-join
  * binning) maps both sides onto coarse buckets of width `w`:
  *
  *  - a point lands in exactly one bucket (`p DIV w`);
  *  - an interval explodes to every bucket it overlaps
  *    (`sequence(s DIV w, e DIV w)` — `(e-s)/w + 2` rows at most);
  *  - bucket-equality then becomes a plain shuffled equi-join key, with
  *    the original containment predicate left as a residual filter.
  *
  * Truncating division is monotone, so `s ≤ p ≤ e` implies
  * `s DIV w ≤ p DIV w ≤ e DIV w` — every true match shares a bucket
  * (no false negatives, for negative domains too), and each match is
  * emitted exactly once because the point side owns exactly one bucket.
  * Cost: shuffle O(|L| + |R|·span/w) instead of compare O(|L|·|R|); pick
  * `w` near the typical interval span so the explode factor stays ~2.
  */
object RangeJoin {

  /** All (interval, point) pairs with `points(pt) ∈ [start, end]`
    * (inclusive). Column sets of the two inputs must be disjoint; the
    * bound columns are long-typed (epoch micros in the event queries).
    */
  private val Bucket = "__rj_bucket"

  private def checkInputs(bucketWidth: Long, dfs: DataFrame*): Unit = {
    require(bucketWidth > 0, "bucketWidth must be positive")
    dfs.foreach(df => require(!df.columns.contains(Bucket),
      s"input already has a '$Bucket' column — it would be consumed and dropped"))
  }

  def pointInInterval(points: DataFrame, pt: String,
      intervals: DataFrame, start: String, end: String,
      bucketWidth: Long): DataFrame = {
    checkInputs(bucketWidth, points, intervals)
    val pts = points.withColumn(Bucket, expr(s"$pt DIV $bucketWidth"))
    // inverted intervals (end < start) match nothing in the theta form;
    // drop them BEFORE the explode — sequence(hi, lo, +1) would throw
    val ivs = intervals.filter(col(start) <= col(end))
      .withColumn(Bucket,
        explode(sequence(expr(s"$start DIV $bucketWidth"),
          expr(s"$end DIV $bucketWidth"), lit(1L))))
    pts.join(ivs, Seq(Bucket))
      .filter(col(pt) >= col(start) && col(pt) <= col(end))
      .drop(Bucket)
  }

  /** All (left, right) interval pairs that overlap:
    * `[s1,e1] ∩ [s2,e2] ≠ ∅` (inclusive bounds, i.e. `s1 ≤ e2 ∧ s2 ≤ e1`).
    *
    * Both sides explode to their buckets, so a true pair shares EVERY
    * bucket of the overlap — the join would emit it once per shared
    * bucket. Exactly-once comes from nominating one canonical bucket per
    * pair: the bucket containing the overlap's left endpoint
    * (`greatest(s1,s2)`), a value computable only once both rows meet.
    * No dropDuplicates pass, so nothing downstream re-shuffles.
    */
  def intervalOverlap(left: DataFrame, s1: String, e1: String,
      right: DataFrame, s2: String, e2: String,
      bucketWidth: Long): DataFrame = {
    checkInputs(bucketWidth, left, right)
    def exploded(df: DataFrame, s: String, e: String): DataFrame =
      df.filter(col(s) <= col(e)) // inverted spans overlap nothing; see above
        .withColumn(Bucket,
          explode(sequence(expr(s"$s DIV $bucketWidth"),
            expr(s"$e DIV $bucketWidth"), lit(1L))))
    exploded(left, s1, e1)
      .join(exploded(right, s2, e2), Seq(Bucket))
      .filter(col(s1) <= col(e2) && col(s2) <= col(e1))
      .filter(col(Bucket) ===
        expr(s"greatest($s1, $s2) DIV $bucketWidth"))
      .drop(Bucket)
  }
}
