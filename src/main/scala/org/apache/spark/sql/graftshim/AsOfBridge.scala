package org.apache.spark.sql.graftshim

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.{And, IsNotNull}
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan}
import org.apache.spark.sql.classic.Dataset
import org.apache.spark.sql.types.LongType

import graft.plans.{AsOfJoinNode, AsOfJoinStrategy}

/** DataFrame facade for the custom sorted-merge as-of join
  * ([[graft.plans.AsOfJoinExec]]): builds the custom logical node over
  * two ANALYZED child plans and registers [[AsOfJoinStrategy]] on the
  * session at this use site (idempotently, via
  * `spark.experimental.extraStrategies`). Lives in the sql package for
  * `Dataset.ofRows` (the BloomBridge/VectorDot shim pattern).
  *
  * Contract: all four key/ts columns are LongType (pack wider keys
  * first); output = left columns ++ right columns (right nullable,
  * LEFT-asof semantics) — alias collisions are the caller's to avoid.
  *
  * NULL semantics: a NULL key or timestamp never matches (vendor ASOF
  * convention). RIGHT rows carrying one are excluded outright; LEFT rows
  * carrying one are RETAINED with null right columns — exactly a vendor
  * `ASOF LEFT JOIN`'s behavior, so cardinality is always |left|. The
  * merge in AsOfJoinExec reads keys with `getLong` (NULL would read as
  * 0) and relies on a non-decreasing key order that SortOrder's
  * nulls-first placement would break for negative keys, so NULLs must
  * not reach it: an IsNotNull filter is inserted under the join whenever
  * a key/ts attribute is nullable, and the filtered-out LEFT rows are
  * unioned back above the join with null right columns (both the filter
  * and the union are no-ops — absent from the plan — for non-nullable
  * schemas, the common case).
  */
object AsOfBridge {
  def sortedAsOf(left: DataFrame, leftKey: String, leftTs: String,
      right: DataFrame, rightKey: String, rightTs: String): DataFrame = {
    val spark = left.sparkSession
    if (!spark.experimental.extraStrategies.contains(AsOfJoinStrategy))
      spark.experimental.extraStrategies =
        spark.experimental.extraStrategies :+ AsOfJoinStrategy
    val lp = left.queryExecution.analyzed
    val rp = right.queryExecution.analyzed
    def attr(p: LogicalPlan, n: String, side: String) =
      p.output.find(_.name == n).getOrElse(throw new IllegalArgumentException(
        s"as-of join: no column '$n' on the $side side"))
    val (lk, lt) = (attr(lp, leftKey, "left"), attr(lp, leftTs, "left"))
    val (rk, rt) = (attr(rp, rightKey, "right"), attr(rp, rightTs, "right"))
    Seq(lk, lt, rk, rt).foreach { a =>
      if (a.dataType != LongType) throw new IllegalArgumentException(
        s"as-of join: column '${a.name}' must be LongType, got ${a.dataType}")
    }
    // NULL guard (see scaladoc): the exec's getLong/merge invariants
    // require non-NULL keys/ts — filter them out under the join when the
    // schema admits them (no-op filter skipped for non-nullable attrs)
    def nonNull(p: LogicalPlan, k: org.apache.spark.sql.catalyst.expressions.Attribute,
        t: org.apache.spark.sql.catalyst.expressions.Attribute): LogicalPlan =
      if (k.nullable || t.nullable) Filter(And(IsNotNull(k), IsNotNull(t)), p) else p
    val cs = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    val joined = Dataset.ofRows(cs,
      AsOfJoinNode(nonNull(lp, lk, lt), nonNull(rp, rk, rt), lk, lt, rk, rt))
    // LEFT-cardinality restoration (see scaladoc): the rows the IsNotNull
    // guard kept away from the merge rejoin the output as never-matched
    // left rows. Position-based union — joined output is left ++ right
    // columns by construction.
    if (lk.nullable || lt.nullable) {
      val nullLeft = left
        .filter(org.apache.spark.sql.functions.col(leftKey).isNull ||
          org.apache.spark.sql.functions.col(leftTs).isNull)
        .select(left.columns.map(org.apache.spark.sql.functions.col) ++
          right.schema.fields.map(f =>
            org.apache.spark.sql.functions.lit(null).cast(f.dataType)
              .as(f.name)): _*)
      joined.union(nullLeft)
    } else joined
  }
}
