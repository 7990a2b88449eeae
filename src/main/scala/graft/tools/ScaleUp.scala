package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Deterministic 10× dataset upscaler for WEAK-SCALING benchmarks
  * (r8 verdict task 7: convert the 100 TB claims from design argument to
  * measured extrapolation). Builds sfN×10 from sfN as `copies` shifted
  * replicas of every table:
  *
  *   - every key domain shifts by copy · (max key + 1), so joins,
  *     windows, and sessionization keep their per-key density — the
  *     workload per partition is IDENTICAL, there is just 10× more of it
  *     (weak scaling's null hypothesis);
  *   - document TOKENS get a per-copy suffix (copy 0 keeps the original
  *     text), so shingle/fingerprint/LSH dedup sees 10 mutually-disjoint
  *     corpora: candidate-pair structure scales LINEARLY by construction,
  *     and any super-linear growth a bench measures is the ENGINE's, not
  *     an artifact of replicated text colliding;
  *   - embeddings get a tiny per-copy component offset (cluster geometry
  *     preserved, exact duplicates avoided).
  *
  * BENCH-ONLY data: oracles are never run against it (correctness stays
  * pinned at the driver's sf0.01), so the perturbations only shape the
  * workload. Output goes under /tmp — the driver's read-only testdata is
  * never touched.
  *
  * Usage: runMain graft.tools.ScaleUp <srcDir> <dstDir> [copies=10]
  */
object ScaleUp {
  def main(args: Array[String]): Unit = {
    val src = args(0); val dst = args(1)
    val copies = if (args.length > 2) args(2).toInt else 10
    val spark = graft.GraftSession.local()

    def read(t: String): DataFrame = spark.read.parquet(s"$src/$t.parquet")
    def write(t: String, df: DataFrame): Unit = {
      // snappy, not lz4: Spark's lz4 parquet pages use the hadoop-framed
      // variant DuckDB can't read, and r10 runs the ORACLE against scaled
      // sets too (sf1 regression proofs) — snappy is readable by both
      df.write.mode("overwrite").option("compression", "snappy")
        .parquet(s"$dst/$t.parquet")
      println(s"[scaleup] $t: ${spark.read.parquet(s"$dst/$t.parquet").count()} rows")
    }
    /** shift stride for a key column: pow10 ceiling of max+1, so shifted
      * ids stay human-readable and never collide
      */
    def stride(df: DataFrame, key: String): Long = {
      val mx = df.agg(max(col(key))).head.getLong(0)
      var s = 1L
      while (s <= mx) s *= 10
      s
    }
    /** union `copies` replicas, shifting every (column → stride) key */
    def replicate(df: DataFrame, shifts: Map[String, Long],
        extra: (DataFrame, Int) => DataFrame = (d, _) => d): DataFrame =
      (0 until copies).map { c =>
        val shifted = shifts.foldLeft(df) { case (d, (k, s)) =>
          d.withColumn(k, col(k) + lit(c * s))
        }
        extra(shifted, c)
      }.reduce(_ unionAll _)

    // dimension tables that do NOT scale (the TPC-H convention):
    // region + nation are fixed catalogs
    write("region", read("region"))
    write("nation", read("nation"))

    val customer = read("customer"); val cK = stride(customer, "c_custkey")
    val supplier = read("supplier"); val sK = stride(supplier, "s_suppkey")
    val part = read("part"); val pK = stride(part, "p_partkey")
    val orders = read("orders"); val oK = stride(orders, "o_orderkey")
    write("customer", replicate(customer, Map("c_custkey" -> cK)))
    write("supplier", replicate(supplier, Map("s_suppkey" -> sK)))
    write("part", replicate(part, Map("p_partkey" -> pK)))
    write("orders", replicate(orders,
      Map("o_orderkey" -> oK, "o_custkey" -> cK)))
    write("lineitem", replicate(read("lineitem"),
      Map("l_orderkey" -> oK, "l_partkey" -> pK, "l_suppkey" -> sK)))

    val events = read("events")
    val eK = stride(events, "event_id"); val uK = stride(events, "user_id")
    write("events", replicate(events,
      Map("event_id" -> eK, "user_id" -> uK)))

    val docs = read("documents"); val dK = stride(docs, "doc_id")
    write("documents", replicate(docs, Map("doc_id" -> dK),
      (d, c) => if (c == 0) d
      else d.withColumn("text",
          regexp_replace(col("text"), "(\\S+)", s"$$1z$c"))
        .withColumn("n_chars", length(col("text")).cast("long"))))

    val emb = read("embeddings"); val vK = stride(emb, "vec_id")
    write("embeddings", replicate(emb, Map("vec_id" -> vK),
      (d, c) => if (c == 0) d
      else d.withColumn("embedding",
        transform(col("embedding"),
          x => (x + lit((c * 1.0e-4).toFloat)).cast("float")))))

    spark.stop()
  }
}
