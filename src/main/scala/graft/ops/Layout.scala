package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.Bridge

/** Parquet layout maintenance — the small-files problem. A streaming
  * ingest (q64/q103's sinks, the reference's per-batch inserts) leaves
  * thousands of tiny files per partition; at 100 TB an uncompacted table
  * turns every scan into a file-listing and task-scheduling storm (one
  * task per tiny file) and wrecks row-group pruning.
  *
  * Compaction is Spark-first: a single `REBALANCE` shuffle whose output
  * partitioning AQE sizes to `spark.sql.adaptive.advisoryPartitionSizeInBytes`
  * — no driver-side row counting, no second pass; skewed partitions are
  * split and small ones coalesced by the same mechanism (the engine-native
  * answer PlanAuditSpec's skew test exercises for joins). One file per
  * sized partition.
  */
object Layout {

  /** Rewrite `df` into `outDir` as size-targeted parquet files: one
    * AQE-rebalanced shuffle, `advisoryBytes` per output partition. The
    * write runs in a child session that holds the AQE settings, so the
    * caller's session conf is never written. */
  def compact(df: DataFrame, outDir: String, advisoryBytes: Long): Unit =
    graft.LocalSpark.withChildSession(df.sparkSession,
        "spark.sql.adaptive.enabled" -> "true",
        "spark.sql.adaptive.coalescePartitions.enabled" -> "true",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes" ->
          advisoryBytes.toString) { child =>
      Bridge.rebind(df, child).hint("rebalance")
        .write.mode("overwrite").parquet(outDir)
    }

  /** Scale a non-negative-range integer column onto the z-grid:
    * `floor((c - min) * (2^bits - 1) / (max - min))`. The multiply and
    * divide are exact in double for any TPC-H key range (< 2^53), so the
    * result is engine-portable bit-for-bit. Degenerate range (min = max)
    * maps to 0. */
  def scaleToGrid(c: Column, minC: Column, maxC: Column, bits: Int): Column = {
    val maxCode = (1L << bits) - 1
    when(maxC === minC, lit(0L)).otherwise(
      floor((c - minC).cast("long") * lit(maxCode) / (maxC - minC).cast("long"))
        .cast("long"))
  }

  /** Interleave the low `bits` bits of each already-scaled column into a
    * single z-value (Morton code): bit i of column j lands at position
    * `i * n + j`. Pure bitwise arithmetic — whole-stage-codegen'd, no UDF.
    * `bits * cols.length` must be ≤ 62. */
  def zValue(scaled: Seq[Column], bits: Int): Column = {
    val n = scaled.length
    require(bits * n <= 62, s"z-value would overflow a long: $bits bits x $n cols")
    (0 until bits).flatMap { i =>
      scaled.zipWithIndex.map { case (c, j) =>
        shiftleft(shiftright(c, i).bitwiseAND(lit(1L)), i * n + j)
      }
    }.reduce(_ + _)
  }

  /** Z-order (Morton-curve) layout: append a z-value over `cols`, range-
    * partition on it, sort within partitions, write. Every output file
    * then covers a small BOX in the multi-dim key space — min/max footer
    * stats bound EVERY z-dimension per file, so a predicate box on any
    * subset of the dims prunes row groups/files. A linear sort bounds only
    * its leading column; at 100 TB that is the difference between reading
    * one file and reading the table for a second-dimension predicate.
    *
    * Column bounds come from one lightweight min/max aggregation joined
    * back as a broadcast single row (no driver collect); the z-map itself
    * is in-scan bit arithmetic. Cost = one stats pass + one range shuffle
    * — the same shape Delta/Iceberg OPTIMIZE ZORDER runs. */
  def writeZOrdered(df: DataFrame, cols: Seq[String], bits: Int,
                    nFiles: Int, outDir: String): Unit = {
    val z = zOrdered(df, cols, bits, "__z")
    z.repartitionByRange(nFiles, col("__z"))
      .sortWithinPartitions("__z")
      .drop("__z")
      .write.mode("overwrite").parquet(outDir)
  }

  /** `df` plus the z-value column (named `zCol`) over `cols`. */
  def zOrdered(df: DataFrame, cols: Seq[String], bits: Int,
               zCol: String): DataFrame = {
    val bounds = df.agg(
      min(cols.head).as(s"__min_${cols.head}"),
      (cols.flatMap(c => Seq(max(col(c)).as(s"__max_$c")) ++
        (if (c == cols.head) Nil else Seq(min(col(c)).as(s"__min_$c"))))): _*)
    val withBounds = df.crossJoin(broadcast(bounds))
    val scaled = cols.map(c => scaleToGrid(col(c),
      col(s"__min_$c"), col(s"__max_$c"), bits))
    withBounds.withColumn(zCol, zValue(scaled, bits))
      .drop(cols.flatMap(c => Seq(s"__min_$c", s"__max_$c")): _*)
  }

  // -------------------------------------------------------------------
  // Parquet-native data skipping beyond row-group min/max: split bloom
  // filters (write-time opt-in) and page-level column indexes (written
  // by default since parquet-mr 1.11). Both live in the FOOTER/sidecar
  // metadata, so proving their presence — and probing the bloom — are
  // metadata-only reads (the Tables.tsUnit playbook): no row data moves.
  // -------------------------------------------------------------------

  private def parquetFiles(spark: org.apache.spark.sql.SparkSession,
                           dirPath: String): Seq[org.apache.hadoop.fs.Path] = {
    val conf = spark.sessionState.newHadoopConf()
    val hp = new org.apache.hadoop.fs.Path(dirPath)
    val fs = hp.getFileSystem(conf)
    fs.listStatus(hp).toSeq
      .filter(s => s.isFile && s.getPath.getName.endsWith(".parquet"))
      .map(_.getPath)
  }

  /** Footer-level skipping structures for `column` across every parquet
    * file under `dirPath`: (bloom filter present in EVERY row group,
    * column index present in EVERY row group, total row count). The
    * booleans are per-structure readbacks (`readBloomFilter` /
    * `readColumnIndex`), not just offset checks — a truncated or
    * unparseable structure reads as absent. */
  def skippingStructures(spark: org.apache.spark.sql.SparkSession,
                         dirPath: String, column: String): (Boolean, Boolean, Long) = {
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    val conf = spark.sessionState.newHadoopConf()
    var allBloom = true
    var allColIdx = true
    var rows = 0L
    parquetFiles(spark, dirPath).foreach { f =>
      val reader = ParquetFileReader.open(HadoopInputFile.fromPath(f, conf))
      try {
        reader.getFooter.getBlocks.forEach { block =>
          rows += block.getRowCount
          val cc = block.getColumns.asScala
            .find(_.getPath.toDotString == column)
            .getOrElse(throw new IllegalArgumentException(
              s"column $column not found in $f"))
          if (reader.readBloomFilter(cc) == null) allBloom = false
          if (reader.readColumnIndex(cc) == null) allColIdx = false
        }
      } finally reader.close()
    }
    (allBloom, allColIdx, rows)
  }

  /** Rows living in row groups whose `column` statistics [min,max]
    * EXCLUDE `value` — rows a min/max-pruning scan of `column = value`
    * must never decode. 0 on a degenerate layout (single row group, or
    * the key's range spanning every group): the layout then licenses
    * no pruning, and callers should not assert any. */
  def excludableRows(spark: org.apache.spark.sql.SparkSession,
                     dirPath: String, column: String, value: Long): Long = {
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    val conf = spark.sessionState.newHadoopConf()
    var excluded = 0L
    parquetFiles(spark, dirPath).foreach { f =>
      val reader = ParquetFileReader.open(HadoopInputFile.fromPath(f, conf))
      try {
        reader.getFooter.getBlocks.forEach { block =>
          block.getColumns.asScala
            .find(_.getPath.toDotString == column)
            .foreach { cc =>
              val st = cc.getStatistics
              if (st != null && !st.isEmpty) (st.genericGetMin, st.genericGetMax) match {
                case (mn: java.lang.Long, mx: java.lang.Long)
                    if value < mn || value > mx =>
                  excluded += block.getRowCount
                case _ => ()
              }
            }
        }
      } finally reader.close()
    }
    excluded
  }

  /** Page-granularity pruning facts for `column = value`, computed from
    * the parquet PAGE INDEX (column index min/max per data page + offset
    * index first-row positions — the structures q232 proves present):
    * (total data pages, pages whose [min,max] exclude `value`, rows
    * covered by those excludable pages). This is the sub-row-group tier
    * of the skipping hierarchy: a point predicate inside ONE row group
    * still only decodes the pages whose index range admits the key —
    * at 100 TB the difference between decompressing a ~1 MB page and a
    * ~128 MB row group per match. INT64 columns only (min/max decode as
    * little-endian longs per the parquet PLAIN spec); null-only pages
    * carry no bounds and are conservatively counted non-excludable. */
  def pageLevelPruning(spark: org.apache.spark.sql.SparkSession,
                       dirPath: String, column: String, value: Long)
      : (Long, Long, Long) = {
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    val conf = spark.sessionState.newHadoopConf()
    var totalPages = 0L
    var excludedPages = 0L
    var excludedRows = 0L
    parquetFiles(spark, dirPath).foreach { f =>
      val reader = ParquetFileReader.open(HadoopInputFile.fromPath(f, conf))
      try {
        reader.getFooter.getBlocks.forEach { block =>
          block.getColumns.asScala
            .find(_.getPath.toDotString == column)
            .foreach { cc =>
              val ci = reader.readColumnIndex(cc)
              val oi = reader.readOffsetIndex(cc)
              if (ci != null && oi != null) {
                val n = oi.getPageCount
                val mins = ci.getMinValues
                val maxs = ci.getMaxValues
                val nullPages = ci.getNullPages
                var i = 0
                while (i < n) {
                  totalPages += 1
                  val pageRows =
                    (if (i + 1 < n) oi.getFirstRowIndex(i + 1)
                     else block.getRowCount) - oi.getFirstRowIndex(i)
                  if (!nullPages.get(i)) {
                    val mn = mins.get(i).duplicate()
                      .order(java.nio.ByteOrder.LITTLE_ENDIAN).getLong
                    val mx = maxs.get(i).duplicate()
                      .order(java.nio.ByteOrder.LITTLE_ENDIAN).getLong
                    if (value < mn || value > mx) {
                      excludedPages += 1
                      excludedRows += pageRows
                    }
                  }
                  i += 1
                }
              }
            }
        }
      } finally reader.close()
    }
    (totalPages, excludedPages, excludedRows)
  }

  /** Union bloom-filter probe: would ANY file's bloom admit `value`?
    * Mirrors what a scan consults per row group — FALSE means every row
    * group is provably skippable for `column = value` without touching
    * row data (no false negatives by the bloom contract). */
  def bloomMightContain(spark: org.apache.spark.sql.SparkSession,
                        dirPath: String, column: String, value: Long): Boolean = {
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    val conf = spark.sessionState.newHadoopConf()
    parquetFiles(spark, dirPath).exists { f =>
      val reader = ParquetFileReader.open(HadoopInputFile.fromPath(f, conf))
      try {
        reader.getFooter.getBlocks.asScala.exists { block =>
          block.getColumns.asScala
            .find(_.getPath.toDotString == column)
            .exists { cc =>
              val bf = reader.readBloomFilter(cc)
              bf != null && bf.findHash(bf.hash(value))
            }
        }
      } finally reader.close()
    }
  }

  private implicit class JListOps[A](l: java.util.List[A]) {
    def asScala: Seq[A] = {
      val b = Seq.newBuilder[A]
      l.forEach(a => b += a)
      b.result()
    }
  }
}
