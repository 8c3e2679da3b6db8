package graft.sources

import graft.core.TimeRange

/** Archive (filesystem) source directory, reference layout
  * `basedir/<version>/<format>/<org>/<metricId>/…`
  * (`SubTableScanBuilder.java:106-112`). We diverge from the reference's
  * `Date.toString()` date directories and use Hive-style `date=YYYY-MM-DD`
  * partition dirs instead. Tenant statements bound `timestamp`, never
  * `date`, and the reference's `_fd0` directory pruning from timestamp
  * bounds (SURVEY.md §4 R7) is not rebuilt, so a read that keeps the
  * archive lists and scans all of its date dirs; [[SourceSet.prune]]
  * drops the archive altogether for ranges the nearline windows cover.
  */
case class FsSource(format: String, basedir: String) {
  require(format == "json" || format == "parquet", s"unsupported format $format")
  def metricPath(orgId: String, metricCanonicalId: String, version: String = "0"): String =
    s"$basedir/$version/$format/$orgId/$metricCanonicalId"
}

/** A nearline (recent-writes) table covering the time window
  * [startMillis, endMillis). The reference encodes the range in the
  * DynamoDB table name `<prefix><start>_<end>` and parses it back
  * (`DynamoTimestampHandler.java:50-54`); we keep the same convention. */
case class NearlineTableDesc(name: String, path: String, startMillis: Long, endMillis: Long) {
  def covers(range: TimeRange): Boolean = range.overlaps(startMillis, endMillis)
}

object NearlineTableDesc {
  /** Parse `[start]_[end]` out of a table name with the given prefix. */
  def parseRange(prefix: String, name: String): Option[(Long, Long)] =
    if (!name.startsWith(prefix)) None
    else name.stripPrefix(prefix).split('_') match {
      case Array(s, e) => try Some((s.toLong, e.toLong)) catch { case _: NumberFormatException => None }
      case _ => None
    }
}

/** The full set of physical sources backing one org's metrics.
  *
  * @param keyMapper nearline partition-key scheme for THIS deployment —
  *   every nearline read under this source set composes its hash-key
  *   filter through it (reference `DynamoKeyMapper` pluggability). */
case class SourceSet(
    fs: Seq[FsSource] = Nil,
    nearline: Seq[NearlineTableDesc] = Nil,
    keyMapper: KeyMapper = KeyMapper.Concat) {
  /** Time-range source pruning (reference R1,
    * `ConvertFineoMarkerIntoFilteredInputTables.java:183-285`), exact for
    * any sound `range` (every row the statement can see has a timestamp in
    * it):
    *  - nearline tables whose window can't contain rows in `range` go;
    *  - the FS (archive) sources go too when the kept windows together
    *    cover every timestamp of a non-empty `range`: the assembler's
    *    cutoff drops every archive row inside a kept window (nearline
    *    wins), so an archive branch over a covered range yields no row.
    * A `Full` range keeps everything; an empty one keeps the archive and
    * no window. The archive's `date=` directories are not pruned from
    * timestamp bounds. */
  def prune(range: TimeRange): SourceSet =
    if (range.isFull) this
    else {
      val kept = nearline.filter(_.covers(range))
      copy(fs = if (covered(range, kept)) Nil else fs, nearline = kept)
    }

  /** Does the union of the windows' `[start, end)` contain every timestamp
    * in `range`? One pass over the windows by start, advancing the first
    * timestamp not yet covered; false for an empty range. */
  private def covered(range: TimeRange, windows: Seq[NearlineTableDesc]): Boolean =
    !range.isEmpty && windows.sortBy(_.startMillis).foldLeft(range.min) { (next, w) =>
      if (next > range.max || w.startMillis > next) next
      else math.max(next, w.endMillis)
    } > range.max
}
