package graft.etl

import org.apache.spark.sql.{DataFrame, Observation}

/** Write-side registry (SURVEY.md §2.2 K1-K4): each output table routed to
  * its format / partitioning / mode, mirroring the reference's dispatch
  * (/root/reference/Capstone/scripts/etl.py:434-491, 754-841).
  * `partitionBy(i94_year, i94_month)` is the data-model-level layout that
  * makes month-scoped reads prune at 100 TB.
  */
object Sinks {

  sealed trait Format
  case object Parquet extends Format
  case object Csv extends Format

  /** `sortCols` / `zorderCols` are the WITHIN-FILE layout (WRITE_CONTRACT
    * §5): applied at write time so real parquet row-group min/max
    * statistics (zone maps) prune selective scans — the physical
    * realization of what q341/q143 previously only simulated.
    * `sortCols` = linear clustering (range-partition + sort) for
    * single-key workloads; `zorderCols` = exactly two bounded
    * non-negative integer cell columns, clustered by [[graft.operators.ZOrder.zValue]]
    * so BOTH dimensions prune. `layoutFiles > 0` additionally
    * range-repartitions to that many files (global clustering);
    * `layoutFiles = 0` keeps the caller's partitioning and only sorts
    * within it.
    */
  case class TableSpec(name: String, format: Format,
      partitionCols: Seq[String] = Nil, overwrite: Boolean = true,
      sortCols: Seq[String] = Nil, zorderCols: Seq[String] = Nil,
      layoutFiles: Int = 0) {
    require(sortCols.isEmpty || zorderCols.isEmpty,
      s"$name: sortCols and zorderCols are mutually exclusive layouts")
    require(zorderCols.isEmpty || zorderCols.size == 2,
      s"$name: zorderCols needs exactly 2 cell columns, got $zorderCols")
  }

  /** Apply the spec's physical layout before writing. Clustering keys
    * lead with the hive partition columns so each partition's data is
    * contiguous in the range-shuffle (one file per partition per task,
    * not one per task per partition), then the sort/z key. The z value
    * is sorted as an EXPRESSION — it never lands in the written
    * schema. Cost model at 100 TB: `layoutFiles > 0` is one extra
    * range shuffle over the write set (the same price Delta's
    * OPTIMIZE ZORDER pays); `layoutFiles = 0` is a free per-task sort.
    */
  private[graft] def applyLayout(df: DataFrame, spec: TableSpec): DataFrame = {
    import org.apache.spark.sql.Column
    import org.apache.spark.sql.functions.col
    val layoutKeys: Seq[Column] =
      if (spec.zorderCols.nonEmpty)
        Seq(graft.operators.ZOrder
          .zValue(col(spec.zorderCols.head), col(spec.zorderCols(1)))
          .cast("long"))
      else spec.sortCols.map(col)
    if (layoutKeys.isEmpty) df
    else {
      val keys = spec.partitionCols.map(col) ++ layoutKeys
      val ranged =
        if (spec.layoutFiles > 0) df.repartitionByRange(spec.layoutFiles, keys: _*)
        else df
      ranged.sortWithinPartitions(keys: _*)
    }
  }

  /** The 13-table routing (etl.py:754-841): big SAS-derived tables →
    * partitioned parquet; flights + CSV-derived + dictionary dims →
    * unpartitioned CSV.
    */
  val registry: Seq[TableSpec] = Seq(
    TableSpec("i94_immigrations", Parquet, Seq("i94_year", "i94_month")),
    // the fact table gets the WITHIN-partition layout (WRITE_CONTRACT
    // §5): range-clustered + sorted by arrival_date inside the
    // (year, month) dirs, so date-window scans prune files/row groups
    // by REAL footer min/max — the 2-D completion of the reference's
    // own partitionBy(i94_year, i94_month) (etl.py:440). layoutFiles
    // is the test-scale setting; at 100 TB size it to the write
    // volume (one range shuffle — the OPTIMIZE price, paid at write).
    TableSpec("i94_trips", Parquet, Seq("i94_year", "i94_month"),
      sortCols = Seq("arrival_date"), layoutFiles = 8),
    TableSpec("i94_visitors", Parquet, Seq("i94_year", "i94_month")),
    TableSpec("i94_dates", Parquet, Seq("i94_year", "i94_month")),
    TableSpec("i94_flights", Csv),
    TableSpec("i94_airports", Csv),
    TableSpec("i94_us_states_demographic", Csv),
    TableSpec("i94_us_cities_demographic", Csv),
    TableSpec("i94_countries", Csv),
    TableSpec("i94_port_state_mapping", Csv),
    TableSpec("i94_travel_mode", Csv),
    TableSpec("i94_state_mapping", Csv),
    TableSpec("i94_visa", Csv))

  /** Idempotent partition-scoped overwrite — the offline stand-in for a
    * Delta-style `replaceWhere` (see WRITE_CONTRACT.md; no Delta jar
    * exists in this environment). Dynamic partition-overwrite mode
    * replaces EXACTLY the partitions present in `df` and leaves every
    * other partition untouched, so re-running a month's load is
    * idempotent: the partition's files are swapped as a unit, never
    * appended to, and a failed attempt can simply be re-run. The mode is
    * set as a per-write option, not session config — callers' unrelated
    * overwrites keep static semantics.
    */
  def overwritePartitions(df: DataFrame, spec: TableSpec, outputDir: String): Unit = {
    require(spec.partitionCols.nonEmpty,
      s"${spec.name} is unpartitioned — partition-scoped overwrite needs partition columns")
    val w = applyLayout(df, spec).write
      .option("partitionOverwriteMode", "dynamic")
      .option("header", "true")
      .mode("overwrite")
      .partitionBy(spec.partitionCols: _*)
    val path = s"$outputDir/${spec.name}"
    spec.format match {
      case Parquet => w.parquet(path)
      case Csv     => w.csv(path)
    }
  }

  /** The read path for tables that may have EVOLVED (WRITE_CONTRACT.md
    * §4): schema = the union across every file's footer. Add-column
    * evolution rewrites only the affected partitions, so untouched
    * partitions keep files on the OLD schema — a plain
    * `spark.read.parquet` picks one file's footer and may or may not
    * see the new column depending on file order; the mergeSchema read
    * resolves the union deterministically and fills the column with
    * null where a file lacks it. Footer merging is a parallel
    * footer-only job — O(number of files), never O(bytes) — the
    * documented cost of reading an evolved 100 TB table.
    */
  def readTable(spark: org.apache.spark.sql.SparkSession, spec: TableSpec,
      outputDir: String): DataFrame = {
    val path = s"$outputDir/${spec.name}"
    spec.format match {
      case Parquet => spark.read.option("mergeSchema", "true").parquet(path)
      case Csv     => spark.read.option("header", "true").csv(path)
    }
  }

  /** Schema-compatibility verdict between a table and an incoming
    * frame: (new columns, type-changed columns, missing columns).
    * Shared-name columns must match types EXACTLY — parquet files
    * holding the old physical type cannot be re-read under a new one,
    * so a type change is never an evolution, it is a rewrite.
    */
  private def schemaDelta(table: org.apache.spark.sql.types.StructType,
      incoming: org.apache.spark.sql.types.StructType,
      ignore: Set[String]): (Seq[org.apache.spark.sql.types.StructField],
      Seq[String], Seq[String]) = {
    val newCols = incoming.filter(f =>
      !ignore(f.name) && !table.exists(_.name == f.name))
    val typeChanged = table.flatMap { f =>
      incoming.find(_.name == f.name).filter(_.dataType != f.dataType)
        .map(c => s"${f.name} (table ${f.dataType.simpleString} vs " +
          s"incoming ${c.dataType.simpleString})")
    }
    val missing = table.map(_.name)
      .filterNot(n => incoming.exists(_.name == n))
    (newCols.toSeq, typeChanged.toSeq, missing.toSeq)
  }

  /** Batch MERGE INTO a partitioned parquet table (WRITE_CONTRACT.md §1,
    * VERDICT r11 item 3): apply a changeset (`op` ∈ D/U/I — see
    * [[graft.operators.IncrementalOps.mergeChangeset]] for the arm
    * semantics) and rewrite ONLY the affected partitions via the
    * idempotent dynamic partition-overwrite. Affected = the partitions
    * holding matched target rows ∪ the partition values of rows that
    * will actually write (inserts, and matched updates — so an update
    * that MOVES a row across partitions rewrites both its old and new
    * partition correctly, while a matched-`I` no-op cannot drag a
    * partition in), and every untouched partition's files stay
    * byte-identical (AcidWriteSpec pins this plus idempotent
    * re-application).
    *
    * Emptied partitions are deleted explicitly: dynamic
    * partition-overwrite only replaces partitions PRESENT in the output
    * frame, so an affected partition whose every row is deleted (or
    * whose sole row moves away) writes nothing — without the explicit
    * delete its stale files would survive and deleted rows silently
    * resurface on the next read. The emptied set is `affected −
    * written` (both delta-bounded); the collect is an FS-manifest-sized
    * list driving directory deletes, the same class of driver-side FS
    * work as [[compact]]'s renames.
    *
    * Enforces the SQL MERGE cardinality rule (≤1 change row per key —
    * a delta-sized aggregate). Non-delete change rows must carry
    * non-null partition values: they decide where inserts land.
    *
    * Scale shape: one target⋈changes semi-join to find matched
    * partitions (the changes side is delta-sized; on a partitioned
    * store the subsequent scoped read prunes to the affected
    * partitions — broadcast + dynamic partition pruning), one
    * full-outer merge join over ONLY those partitions' rows, one
    * partition-scoped overwrite. The unchanged mass is never read
    * twice and never rewritten — the O(delta·partition) bound that
    * makes a changeset apply viable nightly at 100 TB.
    *
    * Schema contract (WRITE_CONTRACT.md §4): shared-name columns must
    * match types exactly and the changeset must carry the full target
    * payload — violations fail loudly, never silently coerce. A
    * changeset carrying NEW columns is rejected unless
    * `evolveSchema = true`, in which case the table evolves by
    * ADD COLUMN: affected partitions rewrite on the union schema
    * (pre-existing rows null-filled unless a `U` overwrote them),
    * untouched partitions keep their old-schema files, and
    * [[readTable]]'s mergeSchema read is the contract for seeing the
    * union afterwards. The target is always read with mergeSchema so
    * repeated merges against an already-evolved table see the union.
    *
    * Returns the number of partitions rewritten.
    */
  def mergeInto(spark: org.apache.spark.sql.SparkSession,
      changes: DataFrame, keys: Seq[String], spec: TableSpec,
      outputDir: String, opCol: String = "op",
      evolveSchema: Boolean = false): Long = {
    import org.apache.spark.sql.functions._
    require(spec.format == Parquet && spec.partitionCols.nonEmpty,
      s"${spec.name}: mergeInto needs a partitioned parquet table")
    val path = s"$outputDir/${spec.name}"
    val target = spark.read.option("mergeSchema", "true").parquet(path)
    // schema gate BEFORE any work: fail loudly, never let Spark's
    // column resolution decide what a drifted changeset means
    val (newCols, typeChanged, missingCols) =
      schemaDelta(target.schema, changes.schema, Set(opCol))
    require(typeChanged.isEmpty,
      s"${spec.name}: changeset changes column TYPE(s): " +
        s"${typeChanged.mkString("; ")} — rejected. Old partitions hold " +
        "the old physical type; backfill into a NEW column instead")
    require(missingCols.isEmpty,
      s"${spec.name}: changeset is missing target column(s) " +
        s"${missingCols.mkString(", ")} — a merge changeset must carry " +
        "the full row payload")
    require(newCols.isEmpty || evolveSchema,
      s"${spec.name}: changeset carries NEW column(s) " +
        s"${newCols.map(_.name).mkString(", ")} — pass evolveSchema=true " +
        "to ADD COLUMN (existing rows read back null via readTable's " +
        "mergeSchema) or drop them from the changeset")
    val dup = changes.groupBy(keys.map(col): _*)
      .count().filter(col("count") > 1).limit(1).count()
    require(dup == 0,
      s"${spec.name}: changeset has multiple rows for one key (MERGE cardinality rule)")
    val pCols = spec.partitionCols
    // the EFFECTIVE changeset: only rows whose arm fires — true inserts
    // (unmatched, non-D) and matched D/U. The global no-ops (matched I,
    // unmatched D) are dropped HERE, not left for the merge join: after
    // partition scoping a matched-I would look unmatched and wrongly
    // insert — and its (ignored) partition value must not drag an
    // untouched partition into the rewrite either. localCheckpoint
    // (eager) freezes the delta-sized frame before the table mutates.
    val tKeys = target.select(keys.map(col): _*)
    val inserts = changes.filter(col(opCol) =!= "D")
      .join(tKeys, keys, "left_anti")
    val matchedDU = changes.filter(col(opCol) =!= "I")
      .join(tKeys, keys, "left_semi")
    val eff = inserts.unionByName(matchedDU).localCheckpoint()
    // affected partitions: where matched D/U rows LIVE in the target,
    // plus where inserts and matched updates WRITE (a matched U whose
    // partition value differs is a MOVE — old and new both rewrite)
    val matchedParts = target.join(matchedDU.select(keys.map(col): _*),
        keys, "left_semi")
      .select(pCols.map(col): _*).distinct()
    val writeParts = inserts.select(pCols.map(col): _*)
      .union(matchedDU.filter(col(opCol) === "U").select(pCols.map(col): _*))
      .distinct()
    val parts = matchedParts.union(writeParts).distinct().localCheckpoint()
    val nParts = parts.count()
    // the scoped read prunes to affected partitions; the merge output
    // is localCheckpointed so the overwrite never reads the files it
    // replaces (Spark's self-overwrite rule). Both working frames are
    // delta/affected-partition-sized, never the table. NULL-SAFE (<=>)
    // like the emptied-set anti-join below: a plain equi semi-join
    // would never scope in a null-valued target partition
    // (__HIVE_DEFAULT_PARTITION__), silently dropping its surviving
    // rows from the rewrite (ADVICE r13)
    val partsB = broadcast(parts).as("pt")
    val scoped0 = target.as("t").join(partsB,
      pCols.map(c => col(s"t.$c") <=> col(s"pt.$c")).reduce(_ && _),
      "left_semi")
    // ADD COLUMN evolution: align the scoped target onto the union
    // schema (new columns null) so the merge join lines up; only the
    // affected partitions rewrite on the new schema
    val scoped = newCols.foldLeft(scoped0)((d, f) =>
      d.withColumn(f.name, lit(null).cast(f.dataType)))
    val merged = graft.operators.IncrementalOps
      .mergeChangeset(scoped, eff, keys, opCol).localCheckpoint()
    overwritePartitions(merged, spec, outputDir)
    // affected partitions the merge wrote NOTHING for (all rows deleted,
    // or a move took the last row away): dynamic overwrite never touched
    // them, so their stale files must be removed here. The anti-join is
    // NULL-SAFE (<=> per partition column): a rewritten
    // __HIVE_DEFAULT_PARTITION__ (null partition value in the TARGET —
    // legal even though change rows must carry non-null values) would
    // never equi-match and its freshly written files would be deleted
    // as "emptied" (ADVICE r13)
    val mergedParts = merged.select(pCols.map(col): _*).distinct().as("m")
    val emptied = parts.as("p").join(mergedParts,
        pCols.map(c => col(s"p.$c") <=> col(s"m.$c")).reduce(_ && _),
        "left_anti")
      .collect()
    if (emptied.nonEmpty) {
      val root = new org.apache.hadoop.fs.Path(path)
      val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
      emptied.foreach { row =>
        val rel = pCols.indices.map { i =>
          val v = if (row.isNullAt(i)) null else String.valueOf(row.get(i))
          org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
            .getPartitionPathString(pCols(i), v)
        }.mkString("/")
        fs.delete(new org.apache.hadoop.fs.Path(root, rel), true)
      }
    }
    nParts
  }

  /** The compaction staging siblings for a table path — derived from
    * the NORMALIZED Path (string concat on a trailing-slash input would
    * nest them inside the dataset).
    */
  private def stagingPaths(dst: org.apache.hadoop.fs.Path)
      : (org.apache.hadoop.fs.Path, org.apache.hadoop.fs.Path) = (
    new org.apache.hadoop.fs.Path(dst.getParent, dst.getName + "__compacting"),
    new org.apache.hadoop.fs.Path(dst.getParent, dst.getName + "__precompact"))

  /** Crash-recovery preamble for [[compact]]'s swap window
    * (WRITE_CONTRACT.md §2, VERDICT r13 item 1): a crash between the
    * two renames leaves NO live table — the data sits intact in
    * `__precompact`. If the live dir is missing and `__precompact`
    * exists, restore it (the ORIGINAL copy is always the safe
    * restore: the compaction simply re-runs; the `__compacting` copy,
    * even when complete, is the one whose install failed). Returns
    * true iff a restore happened. Ran automatically at the top of
    * [[compact]] and [[vacuum]]; also callable directly by an
    * operator or a read-path preamble.
    */
  def recoverCompact(spark: org.apache.spark.sql.SparkSession,
      path: String): Boolean = {
    val dst = new org.apache.hadoop.fs.Path(path)
    val fs = dst.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val (_, old) = stagingPaths(dst)
    if (!fs.exists(dst) && fs.exists(old)) {
      require(fs.rename(old, dst),
        s"recoverCompact: failed to restore $old to $dst")
      true
    } else false
  }

  /** Remove orphaned compaction staging dirs (`__compacting` /
    * `__precompact`) older than `olderThanMs` — crash windows 1 and 3
    * leave one behind (window 2's `__precompact` is LIVE DATA until
    * [[recoverCompact]] restores it, which this runs first). The age
    * gate spares an in-progress compact's staging dir: age = now −
    * max(dir mtime, direct children mtimes) (a directory's own mtime
    * does not advance while files are still being written into it on
    * every FS). Staging dirs are only deleted while the live table
    * exists. Returns the deleted paths.
    */
  def vacuum(spark: org.apache.spark.sql.SparkSession, path: String,
      olderThanMs: Long): Seq[String] = {
    val dst = new org.apache.hadoop.fs.Path(path)
    val fs = dst.getFileSystem(spark.sparkContext.hadoopConfiguration)
    recoverCompact(spark, path)
    val (tmp, old) = stagingPaths(dst)
    if (!fs.exists(dst)) Nil
    else {
      val now = System.currentTimeMillis()
      Seq(tmp, old).filter(fs.exists).filter { p =>
        val newest = (fs.getFileStatus(p).getModificationTime +:
          fs.listStatus(p).map(_.getModificationTime).toSeq).max
        now - newest >= olderThanMs
      }.map { p => fs.delete(p, true); p.toString }
    }
  }

  /** Small-files compaction: rewrite an unpartitioned parquet table into
    * `targetFiles` files (stage to a sibling dir, then swap) — the
    * operational fix for append-mode accumulation at scale. Returns the
    * row count for verification. Crash contract: see
    * [[recoverCompact]]/[[vacuum]] and WRITE_CONTRACT.md §2 — a rerun
    * (or any vacuum) self-heals every crash window.
    */
  def compact(spark: org.apache.spark.sql.SparkSession, path: String,
      targetFiles: Int): Long = {
    val dst = new org.apache.hadoop.fs.Path(path)
    // resolve the filesystem FROM the path (FileSystem.get(conf) would hit
    // the default FS and fail or act on the wrong store for s3a/hdfs URIs)
    val fs = dst.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val (tmp, old) = stagingPaths(dst)
    // self-heal a predecessor's crash between the two renames
    recoverCompact(spark, path)
    spark.read.parquet(path)
      .coalesce(targetFiles).write.mode("overwrite").parquet(tmp.toString)
    val n = spark.read.parquet(tmp.toString).count()
    // swap without a window where the live table is missing: move the old
    // data aside, move the compacted data in, only then drop the old copy
    fs.delete(old, true)
    require(fs.rename(dst, old), s"compact: failed to stage $dst aside")
    require(fs.rename(tmp, dst), s"compact: failed to install $tmp at $dst")
    fs.delete(old, true)
    n
  }

  /** Writes `df` through the spec's layout and returns the number of
    * rows this write wrote (in append mode: this write's rows, not the
    * table's). The count is observed on the frame the writer consumes,
    * so it costs no second job. It sits above [[applyLayout]]: the
    * range-repartition's sampling job runs the plan below the layout,
    * and an observation there would see that extra run too.
    */
  def write(df: DataFrame, spec: TableSpec, outputDir: String): Long = {
    import org.apache.spark.sql.functions.{count, lit}
    val mode = if (spec.overwrite) "overwrite" else "append"
    val path0 = s"$outputDir/${spec.name}"
    // append-mode schema gate (WRITE_CONTRACT.md §4): parquet append
    // with a drifted schema succeeds file-by-file and the table then
    // reads back whatever one footer happens to say — fail loudly
    // instead. Schema evolution goes through mergeInto(evolveSchema).
    // Footer-only check: O(files), no data read.
    if (mode == "append" && spec.format == Parquet) {
      val p = new org.apache.hadoop.fs.Path(path0)
      val fs = p.getFileSystem(
        df.sparkSession.sparkContext.hadoopConfiguration)
      if (fs.exists(p)) {
        val existing = df.sparkSession.read
          .option("mergeSchema", "true").parquet(path0).schema
        val (newCols, typeChanged, missing) =
          schemaDelta(existing, df.schema, Set.empty)
        require(newCols.isEmpty && typeChanged.isEmpty && missing.isEmpty,
          s"${spec.name}: append schema drift — new " +
            s"[${newCols.map(_.name).mkString(", ")}], type-changed " +
            s"[${typeChanged.mkString("; ")}], missing " +
            s"[${missing.mkString(", ")}]. Appends must match the table " +
            "schema exactly; evolve via mergeInto(evolveSchema = true)")
      }
    }
    val rows = Observation()
    val w0 = applyLayout(df, spec).observe(rows, count(lit(1)).as("rows"))
      .write.option("header", "true").mode(mode)
    val w = if (spec.partitionCols.nonEmpty) w0.partitionBy(spec.partitionCols: _*) else w0
    spec.format match {
      case Parquet => w.parquet(path0)
      case Csv     => w.csv(path0)
    }
    rows.get("rows").asInstanceOf[Long]
  }
}
