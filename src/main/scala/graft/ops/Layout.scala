package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SaveMode}
import org.apache.spark.sql.functions._

/** Write-side table layout: compaction + clustering for lake tables.
  *
  * At 100 TB the write layout decides every later read's cost:
  *   - many small files ⇒ driver-side listing and task-scheduling
  *     overhead dominate (the "small files problem"); readers want files
  *     near the FS block / row-group sweet spot;
  *   - rows clustered on the dominant filter column ⇒ per-file min/max
  *     footer stats prune whole files (zone-map skipping), and
  *     range-partitioned output aligns partition pruning with the
  *     predicate.
  *
  * `compact` is both knobs in one pass: range-repartition on the cluster
  * key (one shuffle, contiguous key ranges per output file) + sort WITHIN
  * each partition (exact footer min/max), with file count derived from a
  * target rows-per-file. Hive-style directory partitioning stays the
  * caller's choice via `partitionBy` — this operator fixes the
  * file-grain, not the directory-grain.
  */
object Layout {

  /** Rewrite `df` under `outDir` as ~`ceil(rows / targetRowsPerFile)`
    * parquet files, range-clustered and sorted on `clusterCols`.
    * Returns a scan of the compacted table, read with `df`'s schema (no
    * schema-inference job; [[zorder]] returns its scan the same way). */
  def compact(
      df: DataFrame,
      outDir: String,
      targetRowsPerFile: Long,
      clusterCols: Seq[String]): DataFrame =
    compactCounted(df, outDir, targetRowsPerFile, clusterCols)._1

  /** [[compact]] plus the row count it already computes to size the
    * output files — for callers (the snapshot-store commit) that record
    * per-partition row counts as metadata: the count rides the write's
    * own sizing pass, never a second job. */
  def compactCounted(
      df: DataFrame,
      outDir: String,
      targetRowsPerFile: Long,
      clusterCols: Seq[String]): (DataFrame, Long) = {
    require(clusterCols.nonEmpty, "compact needs at least one cluster column")
    require(targetRowsPerFile > 0, "targetRowsPerFile must be positive")
    val spark = df.sparkSession
    // The file count needs a row count BEFORE the write, but counting the
    // raw `df` and then writing it executes the full upstream lineage
    // TWICE — for a compaction fed by anything beyond a bare scan (a
    // cleanse pipeline, a join) that doubles the job. Materialize once
    // (localCheckpoint: executor-local blocks, lineage truncated), count
    // the materialized blocks, write from them, then release the blocks.
    // EXCEPT for a bare table scan — the common "compact this lake table"
    // input — where counting is metadata-cheap and a checkpoint would
    // copy the whole table into executor storage for nothing.
    // The row count rides the checkpoint materialization itself via
    // observe() (the connectedComponents loop's pattern): metrics
    // accumulate during the checkpoint job, so the count costs ZERO
    // extra actions — previously every non-bare-scan commit paid a
    // separate count() job over the checkpointed blocks (measured 6
    // count jobs ≈ 0.4 s per manifest nightly at sf0.1, one per table
    // per commit at any scale).
    val obs = new org.apache.spark.sql.Observation(
      s"compact-rows-${System.identityHashCode(df)}-${System.nanoTime()}")
    val mat =
      if (isBareScan(df)) df
      else df.observe(obs, org.apache.spark.sql.functions.count(
        org.apache.spark.sql.functions.lit(1)).as("n")).localCheckpoint(eager = true)
    val rows =
      try {
        val n =
          if (mat eq df) mat.count() // bare scan: metadata-cheap
          else Option(obs.get("n")).map(_.asInstanceOf[Long]).getOrElse(mat.count())
        val files = math.max(1L, (n + targetRowsPerFile - 1) / targetRowsPerFile).toInt
        val keyCols = clusterCols.map(col)
        mat.repartitionByRange(files, keyCols: _*)
          .sortWithinPartitions(keyCols: _*)
          .write.mode(SaveMode.Overwrite).parquet(outDir)
        n
      } finally
        if (!(mat eq df))
          org.apache.spark.sql.graftshim.GraftSessions.unpersistLocalCheckpoint(mat)
    (spark.read.schema(df.schema).parquet(outDir), rows)
  }

  /** A plan that is just a relation read (possibly aliased) — executing it
    * twice costs two cheap scans, not two pipeline runs. */
  private def isBareScan(df: DataFrame): Boolean = {
    import org.apache.spark.sql.catalyst.plans.logical.SubqueryAlias
    import org.apache.spark.sql.execution.datasources.LogicalRelation
    def bare(p: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): Boolean = p match {
      case s: SubqueryAlias => bare(s.child)
      case _: LogicalRelation => true
      case _ => false
    }
    bare(org.apache.spark.sql.graftshim.ColumnExpr.logical(df.toDF()))
  }

  /** Bit-interleaved Z-value (Morton code) of two columns already scaled
    * to [0, 65535]: bit i of `a` lands at position 2i, bit i of `b` at
    * 2i+1, so Z-proximity implies proximity in BOTH dimensions. Pure
    * integer shift/mask arithmetic — codegen-friendly, exact, and
    * mirrorable in any engine. */
  def zValue(a: Column, b: Column): Column = {
    val al = a.cast("long")
    val bl = b.cast("long")
    val terms = (0 until 16).flatMap { i =>
      Seq(
        shiftleft(shiftright(al, i).bitwiseAND(lit(1L)), 2 * i),
        shiftleft(shiftright(bl, i).bitwiseAND(lit(1L)), 2 * i + 1))
    }
    terms.reduce(_.bitwiseOR(_))
  }

  /** Z-order compaction: like [[compact]], but clustered on the
    * interleaved Z-value of TWO columns, so per-file min/max zone maps
    * narrow on BOTH — a predicate on either dimension (or both) skips
    * files, where single-key range clustering leaves the second
    * dimension's ranges at full width in every file. The multi-dim layout
    * pass a lake table serving two independent filter dimensions needs
    * (Delta/Iceberg expose the same thing as OPTIMIZE ZORDER BY).
    *
    * Columns are min/max-normalized to 16 bits via one bounded 1-row
    * bounds aggregate over the (once-materialized) input; the Z-value is
    * a transient sort key — the written schema is unchanged. */
  def zorder(
      df: DataFrame,
      outDir: String,
      targetRowsPerFile: Long,
      colA: String,
      colB: String): DataFrame = {
    require(targetRowsPerFile > 0, "targetRowsPerFile must be positive")
    val spark = df.sparkSession
    val mat = df.localCheckpoint(eager = true)
    try {
      val b = mat.agg(
        min(col(colA)).cast("double"), max(col(colA)).cast("double"),
        min(col(colB)).cast("double"), max(col(colB)).cast("double")).collect()(0)
      if (b.isNullAt(0) || b.isNullAt(2)) {
        // empty input (or a key column that is entirely null): there is
        // nothing to cluster — write the rows as-is, like compact would
        mat.coalesce(1).write.mode(SaveMode.Overwrite).parquet(outDir)
      } else {
        def norm(c: String, lo: Double, hi: Double): Column = {
          val span = math.max(hi - lo, java.lang.Double.MIN_NORMAL)
          least(lit(65535L),
            floor((coalesce(col(c), lit(lo)).cast("double") - lit(lo)) / lit(span) * 65536.0)
              .cast("long"))
        }
        val z = zValue(
          norm(colA, b.getDouble(0), b.getDouble(1)),
          norm(colB, b.getDouble(2), b.getDouble(3)))
        val rows = mat.count()
        val files = math.max(1L, (rows + targetRowsPerFile - 1) / targetRowsPerFile).toInt
        mat.withColumn("_z", z)
          .repartitionByRange(files, col("_z"))
          .sortWithinPartitions("_z")
          .drop("_z")
          .write.mode(SaveMode.Overwrite).parquet(outDir)
      }
    } finally org.apache.spark.sql.graftshim.GraftSessions.unpersistLocalCheckpoint(mat)
    spark.read.schema(df.schema).parquet(outDir)
  }

  /** Per-file layout audit of a parquet table: row count and cluster-key
    * min/max per file — the zone-map view a reader's file-skipping sees.
    * Computed from the data keyed by `input_file_name`, no driver-side
    * footer parsing. */
  def fileStats(df: DataFrame, clusterCol: String): DataFrame =
    df.groupBy(input_file_name().as("file"))
      .agg(
        count(lit(1)).as("rows"),
        min(col(clusterCol)).as("key_min"),
        max(col(clusterCol)).as("key_max"))
}
