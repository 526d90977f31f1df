package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Loaders for the driver-generated TPC-H-ish star schema (TESTDATA.md).
  *
  * Parquet only — columnar, splittable, self-describing; at 100 TB the
  * scan benefits from column pruning + predicate pushdown, which the
  * specs assert via `.explain`.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  // Memoized per (session, path): re-loading a table re-lists files
  // and re-reads parquet footers — measurable fixed cost when dozens
  // of queries hit the same small tables. The analyzed plan is
  // immutable, so sharing it across queries is safe. Bounded: a
  // long-lived service cycling many sessions/paths must not leak
  // DataFrames (and their session references) forever — over the
  // bound, single entries are evicted (never a full clear, which
  // would thrash the warm set this memo exists for).
  private val MaxEntries = 256
  private val cache =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String), DataFrame]()

  def load(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    while (cache.size > MaxEntries) {
      val it = cache.keySet.iterator
      if (it.hasNext) { it.next(); it.remove() }
    }
    cache.computeIfAbsent((spark, s"$sfDir/$name.parquet"), { case (sp, path) =>
      val df = graft.sources.Readers.parquet(sp, path)
      // events.ts is parquet TIMESTAMP(NANOS) → read as int64 nanos (see
      // Sessions), restored here to a microsecond timestamp.
      df.schema.fields.find(f => f.name == "ts" && f.dataType.typeName == "long") match {
        case Some(_) =>
          df.withColumn("ts", org.apache.spark.sql.functions.timestamp_micros(
            org.apache.spark.sql.functions.expr("ts div 1000")))
        case None => df
      }
    })
  }

  /** Register every table as a temp view (for the SQL surface). */
  def registerAll(spark: SparkSession, sfDir: String): Unit =
    names.foreach(n => load(spark, sfDir, n).createOrReplaceTempView(n))
}
