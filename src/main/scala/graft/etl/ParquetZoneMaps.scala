package graft.etl

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}

/** Row-group zone map of one integer column of a parquet table. In
  * lenient mode a chunk whose statistics are ABSENT (not provably
  * all-null) appears as the full-range row (Long.MinValue,
  * Long.MaxValue) — an unprunable superset, never a silent drop.
  */
case class ZoneMapRow(file: String, rowgroup: Int, n_rows: Long,
    min_v: Long, max_v: Long)

/** Row-group zone map of one string (BINARY/UTF8) column. `exact=false`
  * marks a chunk whose statistics are absent but whose values are not
  * provably all-null — the reader must keep its file unconditionally.
  * min/max are the RAW footer bytes: parquet's unsigned-lexicographic
  * UTF8 order, byte-identical to Spark's UTF8String comparison, and
  * valid bounds even when the writer truncated them
  * (`parquet.statistics.truncate.length` rounds the max UP).
  */
case class BinZoneRow(file: String, rowgroup: Int, n_rows: Long,
    min_b: Array[Byte], max_b: Array[Byte], exact: Boolean)

/** Row-group zone map over TWO integer columns in one footer pass (the
  * z-order box reader's grain). `a_ok=false` means no row of the chunk
  * can match any predicate on column A (chunk missing / proven
  * all-null); absent-but-unproven stats surface as the full range.
  */
case class ZoneMapRow2(file: String, rowgroup: Int, n_rows: Long,
    a_ok: Boolean, min_a: Long, max_a: Long,
    b_ok: Boolean, min_b: Long, max_b: Long)

/** Per-chunk statistics classification shared by every footer walk —
  * the ADVICE-r16 distinction: 'all-null chunk' (safe to SKIP: NULL
  * never matches a range predicate) vs 'stats absent but values
  * possibly non-null' (a writer with statistics disabled, or binary
  * min/max dropped for size — must be KEPT as an unprunable superset,
  * or matching rows silently vanish from the pruned read).
  */
private[etl] sealed trait ChunkStats extends Serializable
/** Chunk missing (pre-evolution file) or statistics PROVE all-null. */
private[etl] case object ChunkCannotMatch extends ChunkStats
/** Statistics absent/unusable; values may be non-null — unprunable. */
private[etl] case object ChunkUnknown extends ChunkStats
private[etl] final case class ChunkLongRange(min: Long, max: Long)
  extends ChunkStats
private[etl] final case class ChunkBinRange(min: Array[Byte],
    max: Array[Byte]) extends ChunkStats

/** REAL parquet footer statistics — the physical zone maps that decide
  * whether a layout (Sinks.TableSpec sortCols/zorderCols) actually
  * prunes, as opposed to the relational simulations (q341/q143). Reads
  * ONLY footers via parquet-hadoop (the same metadata a query engine's
  * row-group filter consults), never data pages.
  *
  * Scale shape: one distributed footer-only job — the file listing
  * parallelized into a Dataset, one footer open per file per task.
  * O(number of files) like Sinks.readTable's mergeSchema pass; a
  * 100 TB table with 100k files is a 100k-row metadata job, never a
  * byte scan.
  */
object ParquetZoneMaps {

  /** Recursive data-file listing under `path` (parquet parts only) — the
    * same O(files) driver-side walk Spark's own InMemoryFileIndex
    * performs, with its hidden-name rule (`.x`, and `_x` unless a
    * `k=v` partition) applied only to the components below `path`, so a
    * table that itself lives under a dot-directory still lists. Shared
    * by the footer jobs and [[ZoneMapReader]]'s kept-vs-total accounting.
    */
  private[graft] def listDataFiles(spark: SparkSession, path: String): Seq[String] = {
    val hconf = spark.sparkContext.hadoopConfiguration
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(hconf)
    val rootDepth = fs.makeQualified(root).depth()
    val it = fs.listFiles(root, true)
    def hidden(p: org.apache.hadoop.fs.Path): Boolean =
      p.depth() > rootDepth && {
        val n = p.getName
        n.startsWith(".") || n.startsWith("_") && !n.contains("=") ||
          hidden(p.getParent)
      }
    Iterator.continually(it)
      .takeWhile(_.hasNext).map(_.next().getPath)
      .filter(p => p.getName.endsWith(".parquet") || p.getName.contains("part-"))
      .filterNot(hidden).map(_.toString)
      .toSeq.sorted
  }

  /** Per-row-group (file, rowgroup, rows, min, max) for `column`,
    * which must be a physical INT32 or INT64 parquet column (dates
    * land as INT32 days). Files with no statistics for the column
    * fail loudly — a layout gate reading absent zone maps would
    * otherwise report 100% pruning of nothing.
    */
  def rowGroupStats(spark: SparkSession, path: String, column: String)
      : Dataset[ZoneMapRow] = rowGroupStats(spark, path, column,
    requireStats = true)

  /** Classify one column chunk's footer statistics (executor-side,
    * shared by every walk). Strict mode fails loudly on a missing
    * chunk or absent min/max — a layout GATE reading absent zone maps
    * would otherwise report 100% pruning of nothing. Lenient mode
    * (the READERS' mode) distinguishes (ADVICE r16):
    *  - chunk missing (pre-evolution file): rows read back null under
    *    mergeSchema, null never matches a range → [[ChunkCannotMatch]]
    *  - statistics PROVE all-null (numNulls == rowCount, no min/max):
    *    → [[ChunkCannotMatch]], exact skip
    *  - statistics absent but NOT provably all-null (writer disabled
    *    stats, or binary min/max dropped for size): →
    *    [[ChunkUnknown]] — the chunk may hold matching rows and its
    *    file must be KEPT (unprunable superset), never silently
    *    dropped.
    */
  private[etl] def classifyChunk(
      b: org.apache.parquet.hadoop.metadata.BlockMetaData,
      column: String, file: String, rg: Int, requireStats: Boolean,
      wantBinary: Boolean): ChunkStats = {
    val chunkOpt = (0 until b.getColumns.size())
      .map(b.getColumns.get)
      .find(_.getPath.toDotString == column)
    require(chunkOpt.nonEmpty || !requireStats,
      s"$file rowgroup $rg: no column chunk named '$column'")
    if (chunkOpt.isEmpty) return ChunkCannotMatch
    val st = chunkOpt.get.getStatistics
    val hasMinMax = st != null && st.hasNonNullValue
    require(hasMinMax || !requireStats,
      s"$file rowgroup $rg: column '$column' carries no min/max " +
        "statistics — the layout gate cannot measure pruning")
    if (hasMinMax) st match {
      case s: org.apache.parquet.column.statistics.IntStatistics
          if !wantBinary => ChunkLongRange(s.getMin.toLong, s.getMax.toLong)
      case s: org.apache.parquet.column.statistics.LongStatistics
          if !wantBinary => ChunkLongRange(s.getMin, s.getMax)
      case s: org.apache.parquet.column.statistics.BinaryStatistics
          if wantBinary => ChunkBinRange(s.getMinBytes, s.getMaxBytes)
      case other => throw new IllegalArgumentException(
        s"$file: column '$column' is ${other.getClass.getSimpleName}" +
          (if (wantBinary) " — string zone maps need a BINARY/UTF8 key"
           else " — zone-map gate supports INT32/INT64 keys"))
    }
    else if (st != null && st.isNumNullsSet && st.getNumNulls == b.getRowCount)
      ChunkCannotMatch
    else ChunkUnknown
  }

  /** One distributed footer-only pass: apply `perBlock` to every row
    * group of every data file under `path`. O(files) tasks, never a
    * byte scan.
    */
  private def footerWalk[T: org.apache.spark.sql.Encoder](
      spark: SparkSession, path: String)(
      perBlock: (String, Int,
        org.apache.parquet.hadoop.metadata.BlockMetaData) => Option[T])
      : Dataset[T] =
    footerWalkFiles(spark, listDataFiles(spark, path))(perBlock)

  private def footerWalkFiles[T: org.apache.spark.sql.Encoder](
      spark: SparkSession, files: Seq[String])(
      perBlock: (String, Int,
        org.apache.parquet.hadoop.metadata.BlockMetaData) => Option[T])
      : Dataset[T] = {
    val hconf = spark.sparkContext.hadoopConfiguration
    // serializable copies for the executor-side footer reads
    val confMap = {
      val m = scala.collection.mutable.Map[String, String]()
      val ci = hconf.iterator()
      while (ci.hasNext) { val e = ci.next(); m(e.getKey) = e.getValue }
      m.toMap
    }
    spark.createDataset(files)(
        org.apache.spark.sql.Encoders.STRING)
      .repartition(math.max(1, math.min(files.size, 32)))
      .flatMap { f =>
        val conf = new org.apache.hadoop.conf.Configuration(false)
        confMap.foreach { case (k, v) => conf.set(k, v) }
        val in = org.apache.parquet.hadoop.util.HadoopInputFile
          .fromPath(new org.apache.hadoop.fs.Path(f), conf)
        val reader = org.apache.parquet.hadoop.ParquetFileReader.open(in)
        try {
          val blocks = reader.getFooter.getBlocks
          (0 until blocks.size()).flatMap(i => perBlock(f, i, blocks.get(i)))
        } finally reader.close()
      }
  }

  /** `requireStats = false` (the reader mode): a chunk that CANNOT
    * match (missing, or statistics prove all-null) is skipped exactly;
    * a chunk whose statistics are merely ABSENT surfaces as the full
    * range (Long.MinValue, Long.MaxValue) so its file is kept — see
    * [[classifyChunk]]. A cross-engine gate should stay strict.
    */
  def rowGroupStats(spark: SparkSession, path: String,
      column: String, requireStats: Boolean): Dataset[ZoneMapRow] = {
    import spark.implicits._
    footerWalk[ZoneMapRow](spark, path) { (f, i, b) =>
      classifyChunk(b, column, f, i, requireStats, wantBinary = false) match {
        case ChunkLongRange(mn, mx) => Some(ZoneMapRow(f, i, b.getRowCount, mn, mx))
        case ChunkUnknown =>
          Some(ZoneMapRow(f, i, b.getRowCount, Long.MinValue, Long.MaxValue))
        case _ => None
      }
    }
  }

  /** String-key zone maps (lenient only — the read path's mode):
    * min/max as RAW unsigned-lexicographic UTF8 bytes; `exact=false`
    * rows mark stats-absent chunks the reader must keep. Valid under
    * parquet's truncation semantics: a truncated max is rounded UP by
    * the writer, so footer bounds always enclose the true values.
    */
  def rowGroupStatsBinary(spark: SparkSession, path: String,
      column: String): Dataset[BinZoneRow] =
    rowGroupStatsBinaryForFiles(spark, listDataFiles(spark, path), column)

  /** [[rowGroupStatsBinary]] over an explicit file list — lets a
    * multi-window reader ([[ZoneMapReader]] table handles) pay the
    * directory listing once. */
  def rowGroupStatsBinaryForFiles(spark: SparkSession,
      files: Seq[String], column: String): Dataset[BinZoneRow] = {
    import spark.implicits._
    footerWalkFiles[BinZoneRow](spark, files) { (f, i, b) =>
      classifyChunk(b, column, f, i, requireStats = false,
          wantBinary = true) match {
        case ChunkBinRange(mn, mx) => Some(BinZoneRow(f, i, b.getRowCount, mn, mx, exact = true))
        case ChunkUnknown => Some(BinZoneRow(f, i, b.getRowCount,
          Array.emptyByteArray, Array.emptyByteArray, exact = false))
        case _ => None
      }
    }
  }

  /** [[rowGroupStats]] over an EXPLICIT file list — the incremental
    * zone-map maintenance path (q360): after an append, only the NEW
    * files' footers are probed (O(delta) tasks) and merged into the
    * standing manifest; a full-table walk would re-pay O(files) on a
    * 100k-file table for a 2-file delta. Lenient mode only — the
    * manifest reader keeps unknown-stats files unprunable.
    */
  def rowGroupStatsForFiles(spark: SparkSession, files: Seq[String],
      column: String): Dataset[ZoneMapRow] = {
    import spark.implicits._
    footerWalkFiles[ZoneMapRow](spark, files) { (f, i, b) =>
      classifyChunk(b, column, f, i, requireStats = false,
          wantBinary = false) match {
        case ChunkLongRange(mn, mx) =>
          Some(ZoneMapRow(f, i, b.getRowCount, mn, mx))
        case ChunkUnknown =>
          Some(ZoneMapRow(f, i, b.getRowCount, Long.MinValue, Long.MaxValue))
        case _ => None
      }
    }
  }

  /** Two-column zone maps in ONE footer pass (the z-order box reader's
    * input — two separate walks would double the metadata job on a
    * 100k-file table). Lenient per column: `x_ok=false` marks a chunk
    * no row of which can match ANY predicate on that column.
    */
  def rowGroupStats2(spark: SparkSession, path: String,
      colA: String, colB: String): Dataset[ZoneMapRow2] =
    rowGroupStats2ForFiles(spark, listDataFiles(spark, path), colA, colB)

  /** [[rowGroupStats2]] over an explicit file list (one listing per
    * table handle, not per window). */
  def rowGroupStats2ForFiles(spark: SparkSession, files: Seq[String],
      colA: String, colB: String): Dataset[ZoneMapRow2] = {
    import spark.implicits._
    footerWalkFiles[ZoneMapRow2](spark, files) { (f, i, b) =>
      def leg(c: String): (Boolean, Long, Long) =
        classifyChunk(b, c, f, i, requireStats = false,
            wantBinary = false) match {
          case ChunkLongRange(mn, mx) => (true, mn, mx)
          case ChunkUnknown => (true, Long.MinValue, Long.MaxValue)
          case _ => (false, 0L, 0L)
        }
      val (aOk, minA, maxA) = leg(colA)
      val (bOk, minB, maxB) = leg(colB)
      Some(ZoneMapRow2(f, i, b.getRowCount, aOk, minA, maxA, bOk, minB, maxB))
    }
  }

  /** File-grain zone maps with the hive partition value parsed from
    * the path (`partCol=<long>` directories): one row per partition
    * value — (part_id, n_rowgroups, n_rows, min_v, max_v). This is
    * the grain a cross-engine gate can replay relationally: partition
    * membership is decided by the writer's partitioning expression,
    * so min/max per PARTITION equals the relational range even when a
    * partition's rows span several physical files.
    */
  def partitionStats(spark: SparkSession, path: String,
      statsCol: String, partCol: String): DataFrame = {
    import org.apache.spark.sql.functions._
    rowGroupStats(spark, path, statsCol).toDF()
      .withColumn("part_id",
        regexp_extract(col("file"), s"$partCol=(-?\\d+)", 1).cast("long"))
      .groupBy(col("part_id"))
      .agg(count(lit(1)).as("n_rowgroups"), sum(col("n_rows")).as("n_rows"),
        min(col("min_v")).as("min_v"), max(col("max_v")).as("max_v"))
  }
}
