package graft.operators

import org.apache.spark.sql.SparkSession

/** Driver-side sidecar I/O for model-sized index metadata (PQ/OPQ
  * codebooks + rotation, SQ grids, BQ thresholds, IVF centroids, LSH
  * hyperplanes, tuned operating points).
  *
  * WHY (r15 optimization): these sidecars are kilobytes, but they were
  * written as `coalesce(1).write.parquet` and read back with
  * `spark.read.parquet(...).collect()` — each direction is a full
  * Spark job (schema inference, task launch, commit protocol), so an
  * index build paid 1-2 scheduler round-trips and EVERY probe paid 1-2
  * more just to move a few KB of model. Measured at the bench floor
  * (~60-100 ms/job on an idle local[16]), the sidecar jobs were a
  * third of the whole ANN-row cost; on a busy cluster a scheduled job
  * costs far more than a driver-side filesystem read, and it costs it
  * PER QUERY on the probe path. The guide's rule ("the driver should
  * do almost no data work" — §5) cuts both ways: a 4 KB model is not
  * data work, and shipping it through the DAG scheduler is pure
  * overhead. This helper writes one plain-text file through the Hadoop
  * FileSystem API (works on HDFS/S3A/local — the same FS the index
  * data lives on).
  *
  * Format (versioned, line-based — trivially exact for doubles via
  * `java.lang.Double.toString`, whose shortest-roundtrip decimal
  * reparses bit-identically):
  * {{{
  * graft-sidecar v1
  * prop <key> <value>
  * matrix <name> <numRows>
  * <d0> <d1> ... (one line per row)
  * }}}
  */
object ModelSidecar {
  val Header = "graft-sidecar v1"

  def write(spark: SparkSession, dir: String, name: String,
      props: Map[String, String],
      matrices: Seq[(String, Array[Array[Double]])]): Unit = {
    val sb = new StringBuilder(Header).append('\n')
    props.toSeq.sortBy(_._1).foreach { case (k, v) =>
      sb.append("prop ").append(k).append(' ').append(v).append('\n')
    }
    matrices.foreach { case (mname, m) =>
      sb.append("matrix ").append(mname).append(' ')
        .append(m.length).append('\n')
      m.foreach { row =>
        var i = 0
        while (i < row.length) {
          if (i > 0) sb.append(' ')
          sb.append(java.lang.Double.toString(row(i)))
          i += 1
        }
        sb.append('\n')
      }
    }
    val (fs, path) = locate(spark, dir, name)
    val out = fs.create(path, true)
    try out.write(sb.toString.getBytes("UTF-8")) finally out.close()
  }

  def exists(spark: SparkSession, dir: String, name: String): Boolean = {
    val (fs, path) = locate(spark, dir, name)
    fs.exists(path)
  }

  /** (props, matrices). A missing file raises IllegalArgumentException
    * naming it — `dir` is not a saved index of that kind; malformed
    * content raises too.
    */
  def read(spark: SparkSession, dir: String, name: String)
      : (Map[String, String], Map[String, Array[Array[Double]]]) = {
    val (fs, path) = locate(spark, dir, name)
    require(fs.exists(path), s"no sidecar $path — not a saved index of this kind")
    val in = fs.open(path)
    val text = try {
      val buf = new java.io.ByteArrayOutputStream()
      val chunk = new Array[Byte](64 * 1024)
      var n = in.read(chunk)
      while (n >= 0) { buf.write(chunk, 0, n); n = in.read(chunk) }
      buf.toString("UTF-8")
    } finally in.close()
    val lines = text.split('\n')
    require(lines.nonEmpty && lines(0) == Header,
      s"$path: not a graft sidecar (header '${lines.headOption.getOrElse("")}')")
    val props = Map.newBuilder[String, String]
    val mats = Map.newBuilder[String, Array[Array[Double]]]
    var i = 1
    while (i < lines.length && lines(i).nonEmpty) {
      val line = lines(i)
      if (line.startsWith("prop ")) {
        val rest = line.substring(5)
        val sp = rest.indexOf(' ')
        props += rest.substring(0, sp) -> rest.substring(sp + 1)
        i += 1
      } else if (line.startsWith("matrix ")) {
        val parts = line.substring(7).split(' ')
        val (mname, rows) = (parts(0), parts(1).toInt)
        val m = new Array[Array[Double]](rows)
        var r = 0
        while (r < rows) {
          m(r) = lines(i + 1 + r).split(' ').map(java.lang.Double.parseDouble)
          r += 1
        }
        mats += mname -> m
        i += 1 + rows
      } else {
        throw new IllegalArgumentException(s"$path line $i: unexpected '$line'")
      }
    }
    (props.result(), mats.result())
  }

  private def locate(spark: SparkSession, dir: String, name: String) = {
    val path = new org.apache.hadoop.fs.Path(dir, name)
    (path.getFileSystem(spark.sparkContext.hadoopConfiguration), path)
  }
}
