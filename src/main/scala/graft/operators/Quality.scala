package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Data-quality profiling, re-expressed from the reference's
  * `data_quality_score` (duckdb_engine.py:216-263), which issues 2
  * queries per column. Both modes read the input once, resolving
  * columns by position so any name profiles:
  *  - `exact = true` (oracle parity): rows unpivot into one cell per
  *    column; one aggregate per distinct (column, value), one more per
  *    column. Two shuffles, no Expand (Spark's multi-distinct Expand
  *    plan measured slower at 8 columns).
  *  - `exact = false` (the scale path): one wide aggregate of HyperLogLog
  *    `approx_count_distinct`s, unpivoted; ±~2% on `distinct_count`.
  */
object Quality {

  /** One output row per (input row, column i): `_i` plus `fields(i)`. */
  private def unpivot(df: DataFrame, n: Int)(fields: Int => Seq[Column]): DataFrame =
    df.select(inline(array((0 until n).map(i => struct(lit(i).as("_i") +: fields(i): _*)): _*)))

  /** Per-column profile: total_rows, null_count, distinct_count,
    * null_rate, score (the reference's `(1 - null_rate) * 100`).
    *
    * Exact distinct values are grouped under their own type, never as
    * strings: a cell has one value slot per distinct type in the schema.
    * Values compare as GROUP BY compares them: −0.0 = 0.0, one NaN, map
    * entry order ignored. A zero-row input gives `total_rows` 0,
    * `distinct_count` 0 and null rates per column; no columns, no rows.
    */
  def profile(df: DataFrame, exact: Boolean = true): DataFrame = {
    val names = df.columns.toSeq
    val n = names.length
    val d = df.toDF(names.indices.map(i => s"_c$i"): _*) // by position: any name works
    val base =
      if (n == 0) df.sparkSession.range(0).select(col("id").cast("int").as("_i"),
        lit(0L).as("total_rows"), lit(null).cast("long").as("null_count"), lit(0L).as("distinct_count"))
      else if (exact) {
        val types = d.schema.map(_.dataType).distinct
        val slots = types.indices.map(k => s"_v$k")
        // column i's value in its type's slot (i = -1: none), and a weight
        def cell(i: Int, weight: Long) = types.zip(slots).map { case (t, s) =>
          (if (i >= 0 && d.schema(i).dataType == t) col(s"_c$i") else lit(null).cast(t)).as(s)
        } :+ lit(weight).as("_w")
        // a weightless all-null cell per column keeps zero-row inputs
        val empty = df.sparkSession.range(0, n, 1, 1)
          .select(col("id").cast("int").as("_i") +: cell(-1, 0L): _*)
        val isNull = slots.map(col(_).isNull).reduce(_ && _)
        unpivot(d, n)(cell(_, 1L)).unionByName(empty)
          .groupBy(("_i" +: slots).map(col): _*).agg(sum("_w").as("_n"))
          .groupBy("_i").agg(sum("_n").as("total_rows"),
            sum(when(isNull, col("_n")).otherwise(0L)).as("_nulls"),
            count(when(!isNull, 1)).as("distinct_count"))
          .withColumn("null_count", when(col("total_rows") > 0, col("_nulls")))
      } else {
        val aggs = (0 until n).flatMap { i =>
          val c = col(s"_c$i")
          Seq(sum(when(c.isNull, 1).otherwise(0)).cast("long").as(s"_n$i"),
            approx_count_distinct(c).cast("long").as(s"_d$i"))
        }
        unpivot(d.agg(count(lit(1)).as("_total"), aggs: _*), n)(i => Seq(
          col("_total").as("total_rows"), col(s"_n$i").as("null_count"),
          col(s"_d$i").as("distinct_count")))
      }
    base
      .withColumn("column_name", element_at(typedLit(names), col("_i") + 1))
      .withColumn("null_rate", col("null_count").cast("double") / col("total_rows"))
      .withColumn("score", (lit(1.0) - col("null_rate")) * 100)
      .select("column_name", "total_rows", "null_count", "distinct_count",
        "null_rate", "score")
  }

  /** DuckDB oracle for [[profile]] over a named table (UNION ALL per
    * column — the oracle may be O(N) queries; the engine is not).
    */
  def profileOracle(table: String, cols: Seq[String]): String =
    cols.map { c =>
      s"""SELECT '$c' AS column_name, count(*) AS total_rows,
         |  count(*) - count("$c") AS null_count,
         |  count(DISTINCT "$c") AS distinct_count,
         |  CAST(count(*) - count("$c") AS DOUBLE) / count(*) AS null_rate,
         |  (1.0 - CAST(count(*) - count("$c") AS DOUBLE) / count(*)) * 100 AS score
         |FROM $table""".stripMargin
    }.mkString("", "\nUNION ALL\n", "\nORDER BY column_name")

  /** The reference's validation node (executor/engine.py:211-224):
    * fail the pipeline when the average column score is below a
    * threshold. Returns the score so callers can log it. The score needs
    * only null counts: one aggregate of `count(*)` and a `count(c)` per
    * column. An input with no rows or columns scores 0.0.
    */
  def validate(df: DataFrame, minScore: Double): Double = {
    val n = df.columns.length
    val d = df.toDF((0 until n).map(i => s"_c$i"): _*)
    val counts = d.agg(count(lit(1)), (0 until n).map(i => count(col(s"_c$i"))): _*).head()
    val total = counts.getLong(0)
    val avg = if (total == 0L || n == 0) 0.0
      else (1 to n).map(i => (1.0 - (total - counts.getLong(i)).toDouble / total) * 100).sum / n
    if (avg < minScore)
      throw new IllegalStateException(
        f"Quality score $avg%.1f below minimum $minScore%.1f")
    avg
  }
}
