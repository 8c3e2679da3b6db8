package graft.core

import graft.schema.{Metric, StorageKind}
import graft.sources.{FsSource, NearlineStub, SourceSet}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Assembles the per-metric logical table: the reference's whole custom
  * plan chain — marker rel → source selection → per-source recombination →
  * UNION ALL → overlap cutoff → sort (SURVEY.md §3, lifecycle steps 5-6) —
  * as eager DataFrame construction. It reads exactly the sources it is
  * given: time-range source selection is the caller's, done once per
  * relation by the tenant frontend (`Substitution.boundsFor` →
  * [[SourceSet.prune]]); Catalyst then handles filter pushdown past the
  * union and column pruning. The archive's `date=` directories are not
  * pruned: no tenant statement bounds `date`. Every source of a non-radio
  * metric is read with the storage schema the registry declares
  * ([[Metric.storageSchema]]), so building the table starts no Spark job:
  * the first job is the statement's own.
  */
object Assembler {

  /** Build the time-ordered DataFrame for one (org, metric) over
    * `sources`, already pruned by the caller for the statement's range.
    *
    * @param sorted the table contract is time-ordered output
    *   (`FineoRecombinatorRule.java:171-177`); pass false for inner use
    *   where an aggregation on top would destroy order anyway.
    */
  def metricTable(
      spark: SparkSession,
      orgId: String,
      metric: Metric,
      sources: SourceSet,
      sorted: Boolean = true): DataFrame = {
    val fsDfs = sources.fs.flatMap(readFs(spark, _, orgId, metric))

    // Overlap de-duplication by cutoff, not by key (reference R2,
    // `ConvertFineoMarkerIntoFilteredInputTables.java:144-177`): archive
    // rows whose timestamp falls inside some kept nearline window
    // [start, end) are dropped — nearline wins on a timestamp present in
    // both. The reference cuts everything >= min(start), which silently
    // loses archive rows falling in a GAP between non-contiguous nearline
    // windows; the per-window exclusion is identical when windows are
    // contiguous (the deployed layout) and strictly lossless when they are
    // not. The predicate is a short OR over window bounds — it pushes to
    // the scan as plain range filters. Because of this cut, the caller's
    // `prune` drops the archive outright when the kept windows cover the
    // whole range; it reaches this point only for ranges with an
    // uncovered timestamp.
    val cutFsDfs =
      if (sources.nearline.nonEmpty && fsDfs.nonEmpty) {
        val ts = col(Metric.TimestampField)
        val coveredByNearline = sources.nearline
          .map(w => ts >= w.startMillis && ts < w.endMillis)
          .reduce(_ || _)
        fsDfs.map(_.filter(!coveredByNearline))
      } else fsDfs

    val nearlineDfs = sources.nearline.map { desc =>
      val raw = NearlineStub.readForMetric(spark, desc, orgId, metric, mapper = sources.keyMapper)
      Recombinator.project(raw, metric, bytesAreBase64 = false)
    }

    val all = cutFsDfs ++ nearlineDfs
    require(all.nonEmpty, s"no sources for $orgId/${metric.displayName}")
    val unioned = all.reduce(_.unionByName(_, allowMissingColumns = true))
    if (sorted) unioned.orderBy(Metric.TimestampField) else unioned
  }

  /** Does `dir` exist on its own filesystem? Asked of Hadoop's
    * `FileSystem`, not `java.io.File`, which takes a URI-spelled path
    * (`file:/…`, `s3a://…`) for a local file name and calls it missing.
    * Only a missing path is false; any other I/O error (no filesystem for
    * the scheme, denied access) propagates. */
  def dirExists(spark: SparkSession, dir: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(dir)
    p.getFileSystem(spark.sessionState.newHadoopConf()).exists(p)
  }

  /** Read + recombine one FS source for a metric. Returns None when the
    * metric's directory doesn't exist in this source (a metric need not be
    * present in every archive generation). Non-radio metrics read with the
    * registry-derived storage schema of the source's format
    * ([[Metric.storageSchema]]), so no schema-inference job runs; the
    * `date=` partition columns are still discovered from the directory
    * listing. Radio metrics infer: unknown columns are their contract. */
  private def readFs(
      spark: SparkSession,
      src: FsSource,
      orgId: String,
      metric: Metric): Option[DataFrame] = {
    val path = src.metricPath(orgId, metric.canonicalId)
    if (!dirExists(spark, path)) return None
    val kind = if (src.format == "json") StorageKind.Json else StorageKind.Parquet
    val raw = metric.storageSchema(kind).fold(spark.read)(spark.read.schema(_))
      .format(src.format).load(path)
    Some(Recombinator.recombine(raw, orgId, metric, bytesAreBase64 = src.format == "json"))
  }
}
