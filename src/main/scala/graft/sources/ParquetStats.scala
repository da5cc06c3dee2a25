package graft.sources

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.SparkSession

/** Parquet FOOTER statistics for a directory of data files — row counts
  * and per-column min/max read from the metadata Spark's own writer
  * already recorded, with ZERO extra Spark jobs (the same harvest an
  * Iceberg writer performs to fill its manifest `lower_bounds`/
  * `upper_bounds`/`record_count` fields). Cost is O(files) footer reads
  * of the TOUCHED partitions only, done once at commit time; readers
  * then plan scans from the manifest without opening any footer.
  *
  * Captured columns are top-level primitives with comparable, portably
  * stringifiable stats (int32/int64/float/double + UTF-8 binary);
  * nested fields, decimals, int96 and friends are skipped, as are string
  * bounds outside printable ASCII — an absent stat means "cannot prune",
  * never a wrong answer.
  */
object ParquetStats {

  /** Mutable per-column fold across chunks of one or more files — a
    * single chunk without usable stats poisons its column, and a column
    * absent from some block (in-dir schema drift) cannot prune. */
  private final class Fold {
    var rows = 0L
    val mins = scala.collection.mutable.Map.empty[String, Comparable[Any]]
    val maxs = scala.collection.mutable.Map.empty[String, Comparable[Any]]
    val poisoned = scala.collection.mutable.Set.empty[String]
    val chunkCounts = scala.collection.mutable.Map.empty[String, Long]
    var totalBlocks = 0L
    def result: (Long, Map[String, (String, String)]) =
      (rows, mins.keySet.filterNot(poisoned)
        .filter(c => chunkCounts(c) == totalBlocks &&
          recordable(mins(c)) && recordable(maxs(c)))
        .map(c => c -> (mins(c).toString, maxs(c).toString)).toMap)
  }

  /** A string bound is kept only when it is printable ASCII: every
    * string pruning path refuses other bounds (UTF-16 char order and
    * UTF-8 byte order diverge outside ASCII), so recording them — long
    * free-text titles, twice per commit — would only cost metadata. */
  private def recordable(v: Comparable[Any]): Boolean = (v: Any) match {
    case s: String => s.forall(c => c >= 0x20 && c < 0x7f)
    case _ => true
  }

  /** Parse one file's footer directly: tail-length + magic check, one
    * positioned read of the footer bytes, thrift decode. 200× cheaper
    * than `ParquetFileReader.open` (measured 0.03 ms vs 6 ms per file —
    * the reader's stream/options/codec plumbing dominates a pure
    * metadata harvest), and two positioned reads is also the right
    * access pattern on an object store. */
  private def parseFooter(spark: SparkSession, st: FileStatus)
      : org.apache.parquet.hadoop.metadata.ParquetMetadata = {
    import org.apache.parquet.format.converter.ParquetMetadataConverter
    val len = st.getLen
    require(len >= 12, s"not a parquet file (too short): ${st.getPath}")
    val fs = st.getPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val in = fs.open(st.getPath)
    try {
      val tail = new Array[Byte](8)
      in.readFully(len - 8, tail)
      require(tail(4) == 'P' && tail(5) == 'A' && tail(6) == 'R' &&
        tail(7) == '1', s"not a parquet file (bad magic): ${st.getPath}")
      val fLen = java.nio.ByteBuffer.wrap(tail, 0, 4)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN).getInt
      require(fLen > 0 && fLen <= len - 8,
        s"corrupt parquet footer length $fLen in ${st.getPath}")
      val fb = new Array[Byte](fLen)
      in.readFully(len - 8 - fLen, fb)
      new ParquetMetadataConverter().readParquetMetadata(
        new java.io.ByteArrayInputStream(fb),
        ParquetMetadataConverter.NO_FILTER)
    } finally in.close()
  }

  private def foldFooter(fold: Fold,
                         md: org.apache.parquet.hadoop.metadata.ParquetMetadata)
      : Unit = {
    val schema = md.getFileMetaData.getSchema
    md.getBlocks.forEach { block =>
      fold.rows += block.getRowCount
      fold.totalBlocks += 1
      block.getColumns.forEach { chunk =>
        val path = chunk.getPath.toArray
        if (path.length == 1) {
          val name = path(0)
          fold.chunkCounts(name) = fold.chunkCounts.getOrElse(name, 0L) + 1
          val stats = chunk.getStatistics
          if (!usableType(schema, name) || stats == null ||
              !stats.hasNonNullValue ||
              stats.genericGetMin == null || stats.genericGetMax == null)
            fold.poisoned += name
          else {
            val mn = render(stats.genericGetMin.asInstanceOf[AnyRef])
            val mx = render(stats.genericGetMax.asInstanceOf[AnyRef])
            if (!fold.mins.contains(name) || mn.compareTo(fold.mins(name)) < 0)
              fold.mins(name) = mn
            if (!fold.maxs.contains(name) || mx.compareTo(fold.maxs(name)) > 0)
              fold.maxs(name) = mx
          }
        }
      }
    }
  }

  /** Footer stats of ONE file, from its already-listed status — a
    * single open, no extra exists/getFileStatus roundtrips (the commit
    * paths harvest tens of thousands of files; per-file FS chatter is
    * the constant that matters there). */
  private[graft] def harvestFile(spark: SparkSession, st: FileStatus)
      : (Long, Map[String, (String, String)]) = {
    val fold = new Fold
    foldFooter(fold, parseFooter(spark, st))
    fold.result
  }

  private[graft] def listDataFiles(spark: SparkSession, dir: String): Seq[FileStatus] = {
    val p = new Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) return Nil
    fs.listStatus(p).filter(st => st.isFile &&
      !st.getPath.getName.startsWith("_") &&
      !st.getPath.getName.startsWith(".")).toSeq
  }

  /** (rowCount, column → (min, max) rendered as strings) across every
    * data file of `dir`. A column is reported only when EVERY column
    * chunk of EVERY file carries usable min/max for it — pruning on a
    * partial bound would be wrong. Numeric bounds render via
    * `.toString`; compare them numerically through [[numeric]]. A
    * single-FILE path degenerates to exactly that file. */
  def harvest(spark: SparkSession,
              dir: String): (Long, Map[String, (String, String)]) = {
    val fold = new Fold
    listDataFiles(spark, dir).foreach(st =>
      foldFooter(fold, parseFooter(spark, st)))
    fold.result
  }

  private def usableType(schema: org.apache.parquet.schema.MessageType,
                         name: String): Boolean = {
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._
    import org.apache.parquet.schema.LogicalTypeAnnotation
    val field = schema.getType(Seq(name): _*)
    field.isPrimitive && {
      val pt = field.asPrimitiveType().getPrimitiveTypeName
      val logical = field.getLogicalTypeAnnotation
      val decimal =
        logical.isInstanceOf[LogicalTypeAnnotation.DecimalLogicalTypeAnnotation]
      (pt == INT32 && !decimal) || (pt == INT64 && !decimal) ||
        pt == FLOAT || pt == DOUBLE ||
        (pt == BINARY &&
          logical.isInstanceOf[LogicalTypeAnnotation.StringLogicalTypeAnnotation])
    }
  }

  private def render(v: AnyRef): Comparable[Any] = (v match {
    case b: org.apache.parquet.io.api.Binary => b.toStringUsingUTF8
    case other => other
  }).asInstanceOf[Comparable[Any]]

  /** Numeric view of a rendered bound, when it parses. */
  def numeric(s: String): Option[Double] =
    try Some(s.toDouble) catch { case _: NumberFormatException => None }
}
