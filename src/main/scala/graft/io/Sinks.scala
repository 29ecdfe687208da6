package graft.io

import java.sql.{Connection, PreparedStatement}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types._

/** Sink operators (SURVEY.md §2.6).
  *
  * Reference: /root/reference/airflow/dags/tasks/{bronze,silver,gold}.py.
  *  - K1 parquet → object store (bronze.py:79-82 etc.): [[writeParquet]].
  *    Unlike the reference's single whole-buffer object, writes are
  *    distributed, optionally partitioned by a column (the 100 TB posture:
  *    partition gold outputs by a low-cardinality dimension so BI predicates
  *    prune files).
  *  - K2/K3 CREATE TABLE via JDBC (bronze.py:94-100, silver.py:97-114):
  *    `createTableColumnTypes` carries the reference's type rules
  *    (título/objetivo → TEXT, dates → DATE, else VARCHAR(255),
  *    bronze.py:94-98). Surrogate AUTO_INCREMENT keys are DB-side DDL —
  *    deliberately NOT emulated with monotonically_increasing_id (which is
  *    non-deterministic across runs).
  *  - K4 upsert (bronze.py:103-121 …): the reference's row-at-a-time
  *    `INSERT … ON DUPLICATE KEY UPDATE` never actually updates (the only
  *    unique key is the auto-increment PK — SURVEY.md §2.6), so effective
  *    semantics are APPEND; [[jdbcAppend]] is the faithful sink. A true
  *    batched upsert ([[upsertStatements]] + foreachPartition) is provided
  *    for the corrected semantics; it batches `batchSize` rows per JDBC
  *    round-trip instead of the reference's 1-2 statements per row.
  *
  * No database ships in this container, so JDBC paths are exercised by unit
  * tests at the statement-building level only (SinksSpec).
  */
object Sinks {

  /** K1 — distributed parquet write, optional partition columns and codec.
    * Codec is a real 100 TB lever: zstd trades ~10-20% CPU for ~25-30%
    * smaller files than snappy (Spark's default) — at fleet scale that is
    * storage AND scan-I/O; per-table choice belongs to the writer.
    *
    * A partitioned write is first clustered on the partition columns with
    * the AQE `rebalance` hint. Without it every write task emits one file
    * per partition value it happens to hold (tasks × values small files);
    * with it each value lands in one task, so a small value is one file.
    * A value larger than `spark.sql.adaptive.advisoryPartitionSizeInBytes`
    * is still split across tasks by AQE's skew handling, so no value
    * collapses into one giant file. Non-partitioned writes are unchanged.
    */
  def writeParquet(df: DataFrame, path: String, partitionBy: Seq[String] = Nil,
                   codec: String = "snappy"): Unit = {
    import org.apache.spark.sql.functions.col
    val clustered =
      if (partitionBy.isEmpty) df else df.hint("rebalance", partitionBy.map(col): _*)
    val w = clustered.write.mode("overwrite").option("compression", codec)
    (if (partitionBy.nonEmpty) w.partitionBy(partitionBy: _*) else w).parquet(path)
  }

  /** K2 — the reference's dynamic DDL type rules (bronze.py:94-98).
    *
    * `createTableColumnTypes` must be SPARK-parseable DDL (the writer parses
    * it with the Catalyst parser before the dialect renders it) — so the
    * reference's MySQL `TEXT` is expressed as Spark `STRING`, which every
    * dialect maps to its unbounded text type (MySQL LONGTEXT, Derby CLOB).
    * Round 1 emitted literal `TEXT` and unquoted names, both of which pass
    * statement-level tests but fail the first real write (the reference's
    * accented Portuguese column names aren't valid unquoted Spark
    * identifiers) — found by SinksLiveSpec's live round-trip.
    */
  def columnTypeDdl(schema: StructType): String =
    schema.fields.map { f =>
      val t = f.dataType match {
        case StringType if f.name == "título" || f.name == "objetivo" => "STRING"
        case DateType                                                 => "DATE"
        case IntegerType | LongType                                   => "INT"
        case DoubleType                                               => "DOUBLE"
        case _                                                        => "VARCHAR(255)"
      }
      s"`${f.name}` $t"
    }.mkString(", ")

  private val swapMarker = "_graft_swap_started"

  /** Heal the on-disk state a KILLED [[compact]] run can leave behind, so a
    * re-run always starts from a consistent table. Two markers inside
    * staging decide (the table dir's own existence is NOT trustworthy — a
    * recursive delete is non-atomic, so a killed delete can leave a
    * PARTIAL original that looks intact):
    *  - `_graft_swap_started` present (written atomically after the staged
    *    copy is complete, immediately before the original's delete): the
    *    original is suspect — finish the swap from staging, which is the
    *    one guaranteed-complete copy.
    *  - no swap marker: the destructive phase never began, the original is
    *    whole, staging is stale or partial — discard it.
    * Called automatically at [[compact]] entry; exposed for ops tooling.
    */
  def recoverCompact(spark: org.apache.spark.sql.SparkSession, dir: String): Unit = {
    val staged = new org.apache.hadoop.fs.Path(s"$dir.graft-compact-staging")
    val dirPath = new org.apache.hadoop.fs.Path(dir)
    val fs = staged.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(staged)) {
      if (fs.exists(new org.apache.hadoop.fs.Path(staged, swapMarker))) {
        // swap was in flight: original may be partially deleted — replace
        // it wholesale with the complete staged copy. The marker rides
        // along with the rename and is removed LAST, so a kill anywhere in
        // this block leaves a state this same procedure finishes next time.
        fs.delete(dirPath, true)
        if (!fs.rename(staged, dirPath))
          throw new java.io.IOException(
            s"recoverCompact: swap completion failed; data preserved at $staged")
      } else {
        fs.delete(staged, true): Unit
      }
    }
    // stray marker in the table dir = a kill after rename, before cleanup
    val strayMarker = new org.apache.hadoop.fs.Path(dirPath, swapMarker)
    if (fs.exists(strayMarker)) fs.delete(strayMarker, false): Unit
  }

  /** Small-file compaction: rewrite a directory into ⌈rows / rowsPerFile⌉
    * files (exact for flat layouts; per-PARTITION ⌈rows / rowsPerFile⌉
    * best-effort for Hive layouts — see the salting note in the body).
    * Streaming sinks and incremental upserts accrete small files
    * until footer-listing and task-scheduling overheads dominate scans —
    * periodic compaction is table maintenance every lake runs.
    *
    * Safety and fidelity rules (each one a reviewed failure mode):
    *  - the read merges schemas, so compacting an evolved table cannot
    *    drop columns that the sampled footer lacks;
    *  - `partitionBy` preserves a Hive layout (pass the table's partition
    *    columns — a flat rewrite would silently end partition pruning);
    *  - the new copy is STAGED completely, then swapped in via rename:
    *    the original is deleted only after the staged copy is whole, and
    *    if the swap itself fails the staged copy survives as the recovery
    *    copy (it is never deleted unless the original is intact);
    *  - rename (not a second Spark write) also makes the file-count
    *    contract exact — a rewrite would re-split by scan partitioning.
    *
    * Content round trip + layout pinned in SinksSpec2; combine with
    * [[writeSorted]] when a sort key should also tighten row-group stats.
    */
  def compact(spark: org.apache.spark.sql.SparkSession, dir: String,
              rowsPerFile: Long, partitionBy: Seq[String] = Nil): Unit = {
    require(rowsPerFile > 0, s"rowsPerFile must be positive, got $rowsPerFile")
    import org.apache.spark.sql.functions.{broadcast, col, hash, lit, pmod, greatest, ceil, count}
    recoverCompact(spark, dir) // self-healing re-run after a crash
    val df = spark.read.option("mergeSchema", "true").parquet(dir)
    val staged = new org.apache.hadoop.fs.Path(s"$dir.graft-compact-staging")
    val dirPath = new org.apache.hadoop.fs.Path(dir)
    val fs = staged.getFileSystem(spark.sparkContext.hadoopConfiguration)
    try {
      val re = if (partitionBy.nonEmpty) {
        // Hashing ONLY the partition columns would collapse each partition
        // value into one task — one giant file per skewed partition,
        // breaking the rows-per-file contract. Instead compute a per-
        // partition file budget (partition-count-bounded aggregate) and
        // salt rows into ⌈partitionRows / rowsPerFile⌉ groups; the writer
        // then emits one file per (partition value, salt) group per task.
        // Best-effort: a hash collision between two (partition, salt)
        // groups can still merge their files, but a partition can never
        // collapse to one giant file unless its budget is 1.
        val cnt = df.groupBy(partitionBy.map(col): _*)
          .agg(greatest(lit(1L),
            ceil(count(lit(1)) / lit(rowsPerFile.toDouble))).cast("int").as("__files"))
        // empty table → sum over zero groups is NULL → one empty file
        val totalRow = cnt.agg(org.apache.spark.sql.functions.sum(col("__files"))).collect()(0)
        val totalFiles = if (totalRow.isNullAt(0)) 1 else math.max(1, totalRow.getLong(0).toInt)
        val d = df.alias("d")
        val c = broadcast(cnt).alias("c")
        // null-safe: NULL partition values form a real group and must get
        // their file budget like any other
        val cond = partitionBy.map(p => col(s"d.$p") <=> col(s"c.$p")).reduce(_ && _)
        // hash() rejects MapType and needs ≥1 argument (an all-key table
        // has no data columns) — fall back to the input split id, which
        // still spreads a skewed partition across its source splits
        val hashable = df.schema.fields
          .filterNot(f => partitionBy.contains(f.name))
          .filterNot(_.dataType.isInstanceOf[org.apache.spark.sql.types.MapType])
          .map(f => col(f.name))
        val saltSrc = if (hashable.nonEmpty) hash(hashable: _*)
          else org.apache.spark.sql.functions.spark_partition_id()
        d.join(c, cond)
          .select(col("d.*"), col("c.__files"))
          .withColumn("__salt", pmod(saltSrc, col("__files")).cast("int"))
          .repartition(totalFiles, (partitionBy.map(col) :+ col("__salt")): _*)
          .drop("__files", "__salt")
      } else {
        val n = df.count()
        df.repartition(math.max(1, math.ceil(n.toDouble / rowsPerFile).toInt))
      }
      val w = re.write.mode("overwrite")
      (if (partitionBy.nonEmpty) w.partitionBy(partitionBy: _*) else w)
        .parquet(staged.toString)
      // commit point: the marker (one atomic create) says "the original is
      // no longer trustworthy — staging is the source of truth". Without
      // it, a kill mid-delete leaves a PARTIAL original that a recovery
      // keyed on the dir's existence would mistake for an intact table.
      fs.create(new org.apache.hadoop.fs.Path(staged, swapMarker), true).close()
      fs.delete(dirPath, true)
      if (!fs.rename(staged, dirPath))
        throw new java.io.IOException(
          s"compact: swap failed; complete data preserved at $staged")
      fs.delete(new org.apache.hadoop.fs.Path(dirPath, swapMarker), false)
    } finally {
      // clean staging ONLY if the swap never started — once the marker is
      // down, staged may be the only complete copy
      if (fs.exists(staged) &&
          !fs.exists(new org.apache.hadoop.fs.Path(staged, swapMarker)))
        fs.delete(staged, true): Unit
    }
  }

  /** Range-sorted layout for data skipping: `repartitionByRange` gives every
    * output file a DISJOINT range of the sort key and the within-partition
    * sort makes parquet row-group min/max stats tight — a selective
    * predicate on the key then skips all but ~one file's row groups at scan
    * time. The complement of hive partitioning ([[writeParquet]]'s
    * `partitionBy`): use directories for low-cardinality dimensions, range
    * sorting for high-cardinality ordered keys (timestamps, ids).
    * SinksSpec2 asserts file-range disjointness on real data.
    */
  def writeSorted(df: DataFrame, path: String, sortCol: String,
                  numFiles: Int): Unit = {
    import org.apache.spark.sql.functions.col
    df.repartitionByRange(numFiles, col(sortCol))
      .sortWithinPartitions(sortCol)
      .write.mode("overwrite").parquet(path)
  }

  /** BUCKETED table layout — the warehouse decision that removes the join
    * shuffle entirely (SCALE.md §Joins): both fact tables hash-bucketed on
    * the join key with the SAME bucket count make every subsequent
    * fact⋈fact join read co-located buckets — the scan's output
    * partitioning already satisfies the join's distribution requirement,
    * so EnsureRequirements inserts NO Exchange on either side (pinned in
    * BucketedJoinSpec). At 100 TB this converts the recurring
    * orders⋈lineitem shuffle (the dominant repeated cost of a fact-fact
    * workload) into a one-time layout write. `sortCols` additionally
    * sorts within each bucket file (tighter row groups; lets the join
    * skip or shrink its sort).
    *
    * Bucketing rides the session catalog (`bucketBy` requires
    * `saveAsTable`; `path` keeps the data external so the catalog entry
    * is metadata only).
    */
  def writeBucketed(df: DataFrame, tableName: String, path: String,
                    bucketCol: String, nBuckets: Int,
                    sortCols: Seq[String] = Nil): Unit = {
    require(nBuckets >= 1, s"nBuckets must be >= 1, got $nBuckets")
    val w = df.write.format("parquet").mode("overwrite")
      .bucketBy(nBuckets, bucketCol)
      .option("path", path)
    val sorted =
      if (sortCols.isEmpty) w else w.sortBy(sortCols.head, sortCols.tail: _*)
    sorted.saveAsTable(tableName)
  }

  /** K1e — parquet BLOOM FILTERS: point-lookup data skipping for columns
    * where min/max stats are useless because values are high-cardinality
    * and unordered (content hashes, canonical URLs, doc ids after a
    * shuffle — exactly the probe keys of the dedup ledger). A sorted/
    * z-ordered layout skips by RANGE; a bloom filter skips a row group
    * when a point predicate's value is provably absent, at ~1 byte/value
    * — the difference between an incremental-dedup probe that reads the
    * whole corpus table and one that reads the few row groups that might
    * contain its hashes. `ndv` sizes the filter (expected distinct values
    * per ROW GROUP — overestimating wastes footer bytes, underestimating
    * inflates false positives; size it to rowGroupRows, not table NDV).
    */
  def writeBloomFiltered(df: DataFrame, path: String, bloomCols: Seq[String],
                         ndv: Long = 100000L): Unit = {
    require(bloomCols.nonEmpty, "writeBloomFiltered: need at least one column")
    val w = bloomCols.foldLeft(df.write.mode("overwrite")) { (acc, c) =>
      acc.option(s"parquet.bloom.filter.enabled#$c", "true")
        .option(s"parquet.bloom.filter.expected.ndv#$c", ndv.toString)
    }
    w.parquet(path)
  }

  /** Z-ORDER layout: multi-dimension data skipping. [[writeSorted]] makes
    * row-group stats tight on ONE key; a predicate on any other column
    * still reads everything. Z-ordering interleaves the bits of several
    * keys' rank positions into one curve value and range-sorts by it, so
    * every file covers a small HYPER-RECTANGLE of the key space — a
    * selective predicate on ANY of the z columns skips most files (the
    * Delta/Iceberg OPTIMIZE ZORDER layout decision, as a plain writer).
    *
    * Ranks are DISTRIBUTED: each column is range-partitioned into 2^bits
    * buckets and the partition id (ascending with the range) IS the
    * quantized rank — no global window, no single-task sort anywhere; the
    * cost is one sampling-based shuffle per z column plus the final range
    * partition on the curve. Quantile-based ranks mean value skew never
    * distorts the curve. Skipping effectiveness is pinned in SinksSpec2:
    * per-file spans of BOTH dims shrink vs a single-key sort.
    */
  def writeZOrdered(df: DataFrame, path: String, zCols: Seq[String],
                    numFiles: Int, bitsPerCol: Int = 8): Unit = {
    // bits bound: 0 would collapse every rank to one bucket (single output
    // file regardless of numFiles), ≥31 overflows the Int shift — both
    // silent layout corruptions, so they fail here instead
    require(bitsPerCol >= 1 && bitsPerCol <= 20,
      s"bitsPerCol must be in [1, 20], got $bitsPerCol")
    require(zCols.nonEmpty && zCols.size * bitsPerCol <= 63,
      s"z-order needs 1..${63 / bitsPerCol} columns at $bitsPerCol bits")
    import org.apache.spark.sql.functions._
    val buckets = 1 << bitsPerCol
    val ranked = zCols.zipWithIndex.foldLeft(df) { case (d, (c, i)) =>
      d.repartitionByRange(buckets, col(c))
        .withColumn(s"__r$i", spark_partition_id().cast("long"))
    }
    // interleave: bit j of column i lands at position j*nCols + i
    val n = zCols.size
    val zval = (0 until bitsPerCol).flatMap { j =>
      (0 until n).map { i =>
        shiftleft(shiftright(col(s"__r$i"), j).bitwiseAND(lit(1L)), j * n + i)
      }
    }.reduce(_.bitwiseOR(_))
    ranked.withColumn("__z", zval)
      .repartitionByRange(numFiles, col("__z"))
      .sortWithinPartitions("__z")
      .drop((0 until n).map(i => s"__r$i") :+ "__z": _*)
      .write.mode("overwrite").parquet(path)
  }

  /** Hive-layout partition directory segment for one value (writer-escaped,
    * null → the default-partition name).
    */
  private def partitionSegment(partitionCol: String, v: Any): String = {
    import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
    val valuePart =
      if (v == null) ExternalCatalogUtils.DEFAULT_PARTITION_NAME
      else ExternalCatalogUtils.escapePathName(v.toString)
    s"${ExternalCatalogUtils.escapePathName(partitionCol)}=$valuePart"
  }

  private val upsertManifest = "_graft_emptied.txt"

  /** Heal the state a KILLED [[upsertParquet]] run can leave behind. The
    * MANIFEST is the commit point (written via create-then-rename, i.e.
    * atomically, after the staged copy is complete and immediately before
    * the destructive overwrite):
    *  - manifest present → the overwrite may have started and replaced only
    *    some affected partitions. Replay it from staging (which holds the
    *    full merged content of every affected partition; the rewrite is
    *    idempotent), then finish the emptied-partition deletes the manifest
    *    records, then drop staging.
    *  - no manifest → the target was never touched (this covers both a
    *    mid-write kill and a kill between the staging commit and the
    *    manifest — relying on parquet's `_SUCCESS` alone would replay the
    *    overwrite without knowing which emptied partitions to delete,
    *    leaving a moved key duplicated across partitions). Discard staging.
    * Called automatically at [[upsertParquet]] entry.
    */
  def recoverUpsert(spark: org.apache.spark.sql.SparkSession, dir: String,
                    partitionCol: String): Unit = {
    val staged = new org.apache.hadoop.fs.Path(s"$dir.graft-upsert-staging")
    val fs = staged.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(staged)) return
    val manifest = new org.apache.hadoop.fs.Path(staged, upsertManifest)
    if (fs.exists(manifest)) {
      spark.read.parquet(staged.toString).write
        .mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(partitionCol)
        .parquet(dir)
      val in = fs.open(manifest)
      val segs = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
      finally in.close()
      segs.split("\n").filter(_.nonEmpty).foreach { seg =>
        fs.delete(new org.apache.hadoop.fs.Path(dir, seg), true): Unit
      }
    }
    fs.delete(staged, true): Unit
  }

  /** K4 for the lake: partition-scoped parquet upsert. Rows in `updates`
    * replace same-key rows and insert new keys — but ONLY partitions that
    * contain an updated key are rewritten (dynamic partition overwrite);
    * at 100 TB an upsert touching one day must not rewrite the year, and
    * SinksSpec2 pins that untouched partitions' files are left alone.
    *
    * Mechanics: affected partitions = the updates' partition values PLUS
    * any partition where an updated key currently lives (a key whose
    * update MOVES it between partitions must have its old row deleted, so
    * the old partition rewrites too). Both sets are value-distinct —
    * bounded by partition count, not data. Non-updated rows of affected
    * partitions are kept (anti join on key), the updates unioned in,
    * everything staged next to the target (Spark refuses a write that
    * overlaps its own scan; staging on the SAME filesystem keeps this
    * cluster-valid), then dynamic overwrite rewrites only the affected
    * partitions and the staging dir is removed.
    */
  def upsertParquet(spark: org.apache.spark.sql.SparkSession, dir: String,
                    updates: DataFrame, keyCols: Seq[String],
                    partitionCol: String,
                    maxAffectedPartitions: Int = 100000): Unit = {
    import org.apache.spark.sql.functions.{broadcast, col}
    recoverUpsert(spark, dir, partitionCol) // self-healing re-run after a crash
    // mergeSchema: rewriting affected partitions from a single-footer read
    // of an evolved table would silently DROP columns the sampled footer
    // predates (same failure mode fixed in compact)
    val target = spark.read.option("mergeSchema", "true").parquet(dir).alias("t")
    // ALL joins below are null-safe (<=>): the writer materializes NULL
    // partition values as __HIVE_DEFAULT_PARTITION__ and the delete path
    // handles them, so plain equality (which never matches NULL) would
    // silently exclude the null partition's unchanged rows from `merged`
    // and dynamic overwrite would then rewrite that partition with only
    // the update rows — dropping the rest. Same hazard for NULL keys.
    val keys = updates.select(keyCols.map(col): _*).alias("k")
    val keyCond = keyCols.map(c => col(s"t.$c") <=> col(s"k.$c")).reduce(_ && _)
    val affected = updates.select(col(partitionCol))
      .union(target.join(keys, keyCond, "left_semi").select(col(partitionCol)))
      .distinct().alias("p")
    val merged = target
      .join(broadcast(affected),
        col(s"t.$partitionCol") <=> col(s"p.$partitionCol"), "left_semi")
      .join(keys, keyCond, "left_anti")
      .unionByName(updates.select(target.columns.map(col): _*))
    val staged = new org.apache.hadoop.fs.Path(s"$dir.graft-upsert-staging")
    val fs = staged.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // `overwriteStarted` splits the failure modes: before the dynamic
    // overwrite begins the target is intact and staging is disposable;
    // after it begins, staged may hold the ONLY complete copy of the
    // affected partitions — preserve it and say so (mirrors compact()).
    var overwriteStarted = false
    try {
      // The affected-partition set lives on the driver (it decides which
      // emptied directories to delete) — that is PARTITION-metadata scale,
      // not data scale, but a table partitioned on a high-cardinality
      // column could still blow it up. Cap it with a loud, actionable
      // failure BEFORE anything is staged or overwritten; collect only
      // cap+1 values so the check itself cannot OOM the driver.
      val affectedRows = affected.limit(maxAffectedPartitions + 1).collect()
      if (affectedRows.length > maxAffectedPartitions)
        throw new IllegalStateException(
          s"upsertParquet: update touches more than $maxAffectedPartitions distinct " +
            s"'$partitionCol' values — the affected-partition set is driver-side state, " +
            s"and a set this large means '$partitionCol' is too fine a partition column " +
            s"for an upsert layout. Repartition the table on a coarser column, or pass " +
            s"a higher maxAffectedPartitions if the driver has the memory for it.")
      merged.write.mode("overwrite").parquet(staged.toString)
      val stagedDf = spark.read.parquet(staged.toString)
      // materialize BEFORE overwriting: both plans scan the target dir,
      // whose files are about to be replaced. stagedVals ⊆ affectedVals
      // (merged is the affected-partition semijoin plus the updates), so
      // the cap above bounds this collect too.
      val affectedVals = affectedRows.map(_.get(0)).toSet
      val stagedVals = stagedDf.select(col(partitionCol)).distinct()
        .collect().map(_.get(0)).toSet
      // a partition EMPTIED by a key move has no rows in the merged data,
      // so dynamic overwrite never touches it — its directory must be
      // deleted after the overwrite. Record those segments in a manifest
      // INSIDE staging before anything destructive runs, so recovery after
      // a mid-commit kill can finish the deletes too (underscore-prefixed
      // → invisible to parquet readers of the staged data).
      val emptiedSegs = (affectedVals -- stagedVals)
        .map(v => partitionSegment(partitionCol, v))
      // the manifest is the COMMIT POINT: write to a temp name, then rename
      // (atomic) — recovery must never see a torn manifest, and its mere
      // presence means "the destructive overwrite may have started"
      val manifestTmp = new org.apache.hadoop.fs.Path(staged, s"$upsertManifest.tmp")
      val out = fs.create(manifestTmp, true)
      try out.write(emptiedSegs.mkString("\n").getBytes("UTF-8")) finally out.close()
      if (!fs.rename(manifestTmp, new org.apache.hadoop.fs.Path(staged, upsertManifest)))
        throw new java.io.IOException(s"upsertParquet: manifest commit failed in $staged")
      overwriteStarted = true
      stagedDf.write
        .mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(partitionCol)
        .parquet(dir)
      emptiedSegs.foreach { seg =>
        fs.delete(new org.apache.hadoop.fs.Path(dir, seg), true): Unit
      }
      fs.delete(staged, true): Unit
    } catch {
      case e: Throwable if overwriteStarted =>
        throw new java.io.IOException(
          s"upsertParquet: overwrite failed mid-commit; target may be " +
            s"partially overwritten — complete merged data for the affected " +
            s"partitions preserved at $staged", e)
    } finally {
      if (!overwriteStarted) fs.delete(staged, true): Unit
    }
  }

  /** K2/K3/K4(effective) — append via Spark's batched JDBC writer. */
  def jdbcAppend(df: DataFrame, url: String, table: String,
                 props: java.util.Properties, batchSize: Int = 10000): Unit =
    df.write.mode("append")
      .option("batchsize", batchSize)
      .option("createTableColumnTypes", columnTypeDdl(df.schema))
      .jdbc(url, table, props)

  /** K4 (corrected) — MySQL-dialect upsert statement for one table
    * (verbatim the reference's MariaDB shape, silver.py:118-139). No
    * MySQL-dialect engine exists in this build environment (Derby and
    * DuckDB both reject `ON DUPLICATE KEY UPDATE`; the offline dep set has
    * no H2/MySQL driver), so SinksLiveSpec pins this pair by exact grammar,
    * captured bind payloads, and live-MERGE equivalence instead — the only
    * surface a real MySQL would add is its parser accepting the statement.
    */
  def upsertSql(table: String, cols: Seq[String]): String = {
    val placeholders = cols.map(_ => "?").mkString(", ")
    val updates = cols.map(c => s"$c = VALUES($c)").mkString(", ")
    s"INSERT INTO $table (${cols.mkString(", ")}) VALUES ($placeholders) " +
      s"ON DUPLICATE KEY UPDATE $updates"
  }

  /** K4 (corrected), ANSI dialect — single-row MERGE against the one-row
    * system table (the standard upsert idiom for engines without MySQL's
    * `ON DUPLICATE KEY UPDATE`; Derby restricts the USING source to a base
    * table or table function, so a VALUES source is out). Bind order:
    * key columns (ON), non-key columns (UPDATE SET), then all columns
    * (INSERT VALUES) — [[bindMerge]] matches it.
    */
  def upsertSqlMerge(table: String, cols: Seq[String], keyCols: Seq[String],
                     dummyTable: String = "SYSIBM.SYSDUMMY1"): String = {
    val on = keyCols.map(k => s"t.$k = ?").mkString(" AND ")
    val nonKey = cols.filterNot(keyCols.contains)
    // all-key table (presence ledger): MERGE legally omits WHEN MATCHED —
    // an empty UPDATE SET would be a syntax error
    val matched =
      if (nonKey.isEmpty) ""
      else s"WHEN MATCHED THEN UPDATE SET ${nonKey.map(c => s"t.$c = ?").mkString(", ")} "
    s"MERGE INTO $table AS t USING $dummyTable ON ($on) " + matched +
      s"WHEN NOT MATCHED THEN INSERT (${cols.mkString(", ")}) " +
      s"VALUES (${cols.map(_ => "?").mkString(", ")})"
  }

  /** Positional binder for [[upsertSql]] (MySQL shape: every column once). */
  def bindCols(cols: Seq[String]): (PreparedStatement, Row) => Unit =
    (stmt, r) => cols.zipWithIndex.foreach { case (c, i) =>
      stmt.setObject(i + 1, r.getAs[Any](c))
    }

  /** Positional binder for [[upsertSqlMerge]]. */
  def bindMerge(cols: Seq[String], keyCols: Seq[String]): (PreparedStatement, Row) => Unit = {
    val order = keyCols ++ cols.filterNot(keyCols.contains) ++ cols
    (stmt, r) => order.zipWithIndex.foreach { case (c, i) =>
      stmt.setObject(i + 1, r.getAs[Any](c))
    }
  }

  /** K4 (corrected) — batched upsert over one partition's rows. Called from
    * `df.foreachPartition` with a connection factory; executors each hold one
    * connection and flush every `batchSize` rows — the scalable replacement
    * for the reference's per-row commit. Dialect enters via (sql, bind):
    * `upsertSql`+`bindCols` for MySQL, `upsertSqlMerge`+`bindMerge` for
    * ANSI-MERGE engines (exercised live against embedded Derby in
    * SinksLiveSpec).
    */
  def upsertPartition(rows: Iterator[Row], conn: Connection, sql: String,
                      bind: (PreparedStatement, Row) => Unit,
                      batchSize: Int = 1000): Unit = {
    val stmt = conn.prepareStatement(sql)
    try {
      var n = 0
      rows.foreach { r =>
        bind(stmt, r)
        stmt.addBatch()
        n += 1
        if (n % batchSize == 0) stmt.executeBatch()
      }
      stmt.executeBatch()
    } finally stmt.close()
  }

  /** Convenience: MySQL-dialect batched upsert (round-1 signature). */
  def upsertPartition(rows: Iterator[Row], conn: Connection, table: String,
                      cols: Seq[String], batchSize: Int): Unit =
    upsertPartition(rows, conn, upsertSql(table, cols), bindCols(cols), batchSize)
}
