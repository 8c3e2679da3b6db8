package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** PERSISTED standing state for the incremental maintenance family —
  * the production seam the in-query incremental ops
  * (`pipeline_asset_manifest_incremental`, `decontam_eval_delta`) only
  * simulated: a nightly ingest job READS yesterday's standing tables
  * from the lake, folds tonight's delta against them, and WRITES the
  * updated state — the base corpus is never re-fingerprinted and the
  * cluster closure is sized by the delta (the
  * [[graft.ops.Cluster.mergeClusters]] contract, applied across a real
  * write/read boundary).
  *
  * Round 13 makes the WRITES delta-sized too: a state root is now a
  * SNAPSHOT STORE (the public Iceberg/Delta idea in its simplest form)
  * instead of a full table copy per night:
  *
  * {{{
  *   <store>/data/<table>/p<snap>-<hex>/   immutable data partitions
  *   <store>/snap<n>/_WITNESS              snapshot manifest (commit point)
  *   <store>/_LEASE                        writer lease (concurrency gate)
  *   <store>/_CLAIM-snap<n>                in-flight snapshot claim
  * }}}
  *
  * `_LEASE` and `_CLAIM-*` are the store's own [[FsArbiter]] records;
  * a store behind an external [[CommitArbiter]] (object stores) keeps
  * them at that arbiter instead, under the same keys.
  *
  * A snapshot's witness lists, per table, every file of every partition
  * that snapshot includes — (relpath, length, mtime), root-relative and
  * scheme-normalized. A nightly ingest writes ONLY its delta partitions
  * (new fingerprints verbatim; cluster rows whose assignment actually
  * changed), then commits a new witness that inherits the base
  * partitions by reference. Base data is written once, ever; per-night
  * write volume is sized by the delta, not the standing corpus.
  *
  * Commit protocol (crash-atomic, loudly concurrent-safe):
  *   1. take the writer lease: one conditional put at the store's
  *      [[CommitArbiter]] (an external one when configured, else the
  *      store's [[FsArbiter]]). A second concurrent writer fails HERE
  *      with [[StaleStateException]] — at start, not at the next read. A
  *      retrying writer (same `owner` token, e.g. a restarted stream
  *      batch) may re-take its own lease; with the opt-in
  *      `spark.graft.state.leaseTtlMs` an expired lease is seized with
  *      fencing.
  *   2. verify the base snapshot's witness (tamper gate, below) and that
  *      the base is still the LATEST snapshot — folding from a stale
  *      base would silently drop another writer's fold.
  *   3. write the new data partitions (fresh uniquely-named dirs — a
  *      crash here leaves only unreferenced orphans, swept by the next
  *      [[keepSnapshots]]).
  *   4. claim snapshot `n` by conditional put at the same arbiter, and
  *      refuse if the lease is no longer this writer's (a TTL seize or
  *      an explicit break since step 1). Then write the witness into a
  *      temp dir and RENAME it to `snap<n>` — on a filesystem the one
  *      atomic step and the arbiter of record; a snapshot either exists
  *      complete or not at all. Release the claim, then the lease
  *      (compare-and-delete: only this acquisition's record).
  *
  * Idempotent replay: a commit carries an `owner` token; if the latest
  * snapshot was committed by the same owner the fold is SKIPPED — the
  * `foreachBatch` exactly-once story ([[graft.streaming.EventStreams
  * .manifestIngestStream]] passes `batch-<id>`), with the batch id
  * recorded in the state itself instead of in a side channel.
  *
  * The witness is [[Materialize]]'s data-version idea made durable:
  * every read verifies the snapshot's file listing (names + sizes +
  * modification times) against what the writer recorded, so a standing
  * table that was tampered with, partially deleted, appended to, or
  * clobbered outside the commit protocol fails LOUDLY with
  * [[StandingState.StaleStateException]] instead of silently folding a
  * delta into corrupt state — for incremental maintenance a silent
  * wrong base poisons every later night, which is why this is a hard
  * gate and not a warning. Committed stores also register their witness
  * digest in-JVM so [[Materialize]] can version cache keys from ONE
  * witness read instead of an O(files) stat sweep.
  *
  * Scale shape: standing tables are skinny (64-char fingerprints, long
  * ids) and each partition is range-clustered on its key via
  * [[Layout.compact]], so delta folds prune files by footer min/max;
  * the cluster table is maintained as REVISIONS (only changed
  * assignments are appended, latest-wins on read via one partial-agg
  * max-of-struct), with [[writeTables]] doubling as the bounded-cadence
  * compaction that folds revision partitions back to one. Fingerprint
  * cost is paid exactly once per asset, on the night it arrives. */
object StandingState {

  /** A standing table's files no longer match a snapshot witness, a
    * commit raced another writer, or the witness itself is unreadable —
    * the state was modified outside the commit protocol. Refuse to fold. */
  final class StaleStateException(msg: String) extends IllegalStateException(msg)

  private val FpTable = "fingerprints"
  private val FpBlocksTable = "fpblocks"
  private val ClTable = "clusters"

  /** Literal-probe cap: a nightly delta whose distinct block keys fit
    * under this bound probes the standing [[FpBlocksTable]] with a
    * pushed `bk IN (...)` filter (footer min/max skip non-matching
    * files); a larger delta's key set would both bloat the filter
    * expression and saturate every file's key range anyway, so it
    * falls back to the plain bk-equijoin over the full scan — one
    * standing-table pass, amortized over a delta that big. Kept under
    * the parquet IN-pushdown threshold the sessions raise
    * (`spark.sql.parquet.pushdown.inFilterThreshold`), above which
    * Spark degrades the pushed IN to a min/max range that random hash
    * keys render useless. */
  private[graft] val ProbeLiteralCap = 768
  private val WitnessFile = "_WITNESS"
  private val SnapPrefix = "snap"

  // ------------------------------------------------------------ fs utils

  private def fs(spark: SparkSession, path: String) =
    new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sessionState.newHadoopConf())

  /** Scheme-normalized store path (just the path component): state
    * written with root `/tmp/x` must verify when read via `file:/tmp/x`
    * or any equivalent spelling — witnesses are keyed on this, never on
    * the caller's raw string. */
  private def norm(store: String): String =
    new org.apache.hadoop.fs.Path(store).toUri.getPath match {
      case null | "" => store
      case p => p
    }

  /** Recursive (relpath, length, mtime) listing of a directory, with
    * relpaths computed from QUALIFIED paths on both sides (so the
    * witness is truly root-relative regardless of how the caller spelled
    * the root). Every file counts — including commit markers — so ANY
    * foreign write shows up. */
  private def listing(
      spark: SparkSession, store: String, rel: String): Seq[(String, Long, Long)] = {
    val filesystem = fs(spark, store)
    val dir = filesystem.makeQualified(new org.apache.hadoop.fs.Path(s"$store/$rel"))
    if (!filesystem.exists(dir)) return Seq.empty
    val qroot = filesystem.makeQualified(new org.apache.hadoop.fs.Path(store)).toString
    val out = Seq.newBuilder[(String, Long, Long)]
    val it = filesystem.listFiles(dir, true)
    while (it.hasNext) {
      val st = it.next()
      val r = st.getPath.toString.stripPrefix(qroot).stripPrefix("/")
      out += ((r, st.getLen, st.getModificationTime))
    }
    out.result().sortBy(_._1)
  }

  // ------------------------------------------------------------ snapshots

  private def snapName(n: Long): String = f"$SnapPrefix$n%05d"

  /** Live snapshot ids in a store, ascending; empty for a fresh dir. */
  def snapshots(spark: SparkSession, store: String): Seq[Long] = {
    val filesystem = fs(spark, store)
    val p = new org.apache.hadoop.fs.Path(store)
    if (!filesystem.exists(p)) return Seq.empty
    filesystem.listStatus(p).toSeq
      .map(_.getPath.getName)
      .filter(_.matches(s"$SnapPrefix\\d+"))
      .map(_.stripPrefix(SnapPrefix).toLong)
      .sorted
  }

  /** Newest live snapshot; refuses a dir that has none (not a store). */
  def latestSnapshot(spark: SparkSession, store: String): Long =
    snapshots(spark, store).lastOption.getOrElse(
      throw new StaleStateException(
        s"$store holds no committed snapshot — not a standing-state " +
          "store, or every snapshot was retired"))

  /** One snapshot's parsed witness: the committer's owner token, each
    * table's file listing, and each written partition's ROW COUNT
    * (`#rows=` metadata lines — the count the commit's own file-sizing
    * pass already computed, recorded so maintenance policies like the
    * ANN drift gate read index sizes from ONE witness instead of
    * running Spark count jobs). */
  private[ops] case class Witness(
      owner: String,
      files: Map[String, Seq[(String, Long, Long)]],
      rows: Map[String, Map[String, Long]],
      stats: Map[String, Map[String, (String, String, String)]],
      schemas: Map[String, String])

  /** Canonical rendering of a table schema for witness `#schema=` lines
    * and drift comparison: fields as `name TYPE`, SORTED BY NAME (a
    * reordered append reads identically under parquet's by-name column
    * resolution, so order must not refuse), nullability ignored (a
    * nullable/required flip is a parquet-writer detail, not a shape
    * change). Types render via Catalyst's `DataType.sql`, which is
    * structural for nested types too. */
  private[ops] def canonicalSchema(
      schema: org.apache.spark.sql.types.StructType): String =
    schema.fields.map(f => s"${f.name} ${f.dataType.sql}")
      .sorted.mkString(", ")

  /** Per-FILE zone map of one data file's cluster column, recorded in
    * the witness at commit time: (kind, min, max) with kind ∈ s|l|d
    * (string / integral / floating) and values URL-encoded. The
    * commit reads each written file's parquet footer ONCE (driver-side,
    * bounded by the commit's own file count — delta-sized appends,
    * cadence-bounded compactions), so every later probe can select
    * matching files from snapshot metadata alone: no footer opens at
    * probe time, no reliance on the engine's IN-pushdown limits — the
    * manifest-level file statistics a lake table format (Iceberg/Delta)
    * keeps, here riding the tamper witness. */
  private def fileStats(
      conf: org.apache.hadoop.conf.Configuration,
      path: org.apache.hadoop.fs.Path,
      column: String): Option[(String, String, String)] = {
    import scala.jdk.CollectionConverters._
    def enc(s: String) = java.net.URLEncoder.encode(s, "UTF-8")
    val rdr = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(path, conf))
    try {
      val blocks = rdr.getFooter.getBlocks.asScala.toSeq
      val chunks = blocks
        .flatMap(_.getColumns.asScala.find(_.getPath.toDotString == column))
      val sts = chunks.map(_.getStatistics)
        .filter(s => s != null && !s.isEmpty && s.hasNonNullValue)
      // A zone is recorded only when EVERY row group carries usable
      // stats for the cluster column: parquet-mr drops binary stats
      // over its size cap, a foreign writer may omit them, and an
      // all-null chunk records no min/max — a zone aggregated from a
      // SUBSET of row groups would not cover the unstated rows and the
      // probe would silently skip them. No zone (full read) is the
      // sound default whenever any group's coverage is in doubt.
      val complete = chunks.size == blocks.size && sts.size == chunks.size
      // BINARY zones are recorded only for logically-UTF8 columns: a
      // decimal or raw-bytes cluster column rendered as text would
      // compare in the wrong order and wrongly EXCLUDE files — no
      // zone (full read) is the sound default for such columns
      val isUtf8 = chunks.headOption.exists(
        _.getPrimitiveType.getLogicalTypeAnnotation
          .isInstanceOf[org.apache.parquet.schema.LogicalTypeAnnotation.StringLogicalTypeAnnotation])
      if (!complete || sts.isEmpty) None
      else sts.head.genericGetMin match {
        case _: org.apache.parquet.io.api.Binary if isUtf8 =>
          // cross-row-group aggregation under the SAME ordering parquet
          // used to compute each group's min/max — unsigned UTF-8 byte
          // order, NOT Java's UTF-16 code-unit order (the two diverge
          // for supplementary-plane vs [U+E000,U+FFFF] code points, and
          // a min/max taken in the wrong order records a zone that
          // doesn't cover the file)
          def str(v: Any) =
            v.asInstanceOf[org.apache.parquet.io.api.Binary].toStringUsingUTF8
          Some(("s",
            enc(sts.map(s => str(s.genericGetMin))
              .reduce((a, b) => if (utf8Compare(a, b) <= 0) a else b)),
            enc(sts.map(s => str(s.genericGetMax))
              .reduce((a, b) => if (utf8Compare(a, b) >= 0) a else b))))
        case _: org.apache.parquet.io.api.Binary => None
        case _: java.lang.Long | _: java.lang.Integer =>
          Some(("l",
            sts.map(_.genericGetMin.toString.toLong).min.toString,
            sts.map(_.genericGetMax.toString.toLong).max.toString))
        case _: java.lang.Double | _: java.lang.Float =>
          Some(("d",
            sts.map(_.genericGetMin.toString.toDouble).min.toString,
            sts.map(_.genericGetMax.toString.toDouble).max.toString))
        case _ => None
      }
    } finally rdr.close()
  }

  /** Unsigned byte-wise comparison of two strings' UTF-8 encodings —
    * the ordering parquet's `Binary` comparator defines for UTF8
    * min/max statistics. String zone maps MUST compare in this order:
    * Java String `<` compares UTF-16 code units, which sorts
    * supplementary-plane characters BEFORE [U+E000, U+FFFF] while
    * UTF-8 bytes sort them after — comparing a byte-order zone with a
    * code-unit comparator can wrongly exclude a file (silent row
    * loss). ASCII is unaffected (the two orders agree below U+0080). */
  private[ops] def utf8Compare(a: String, b: String): Int = {
    val x = a.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val y = b.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val n = math.min(x.length, y.length)
    var i = 0
    while (i < n) {
      val c = (x(i) & 0xff) - (y(i) & 0xff)
      if (c != 0) return c
      i += 1
    }
    x.length - y.length
  }

  /** Does a recorded (kind, min, max) zone admit at least one key?
    * Unknown kinds and unparseable keys admit everything (sound:
    * pruning may only SKIP what provably cannot match). */
  private def zoneAdmits(
      kind: String, mn: String, mx: String, keys: Seq[Any]): Boolean = kind match {
    case "s" =>
      // byte-order comparison, matching how the zone was computed — see
      // [[utf8Compare]]; a UTF-16 `<=` here could wrongly EXCLUDE a
      // file for non-ASCII keys
      val lo = java.net.URLDecoder.decode(mn, "UTF-8")
      val hi = java.net.URLDecoder.decode(mx, "UTF-8")
      keys.exists { k =>
        val s = String.valueOf(k)
        utf8Compare(lo, s) <= 0 && utf8Compare(s, hi) <= 0
      }
    case "l" =>
      val lo = mn.toLong
      val hi = mx.toLong
      keys.exists { k =>
        scala.util.Try(String.valueOf(k).toLong)
          .map(v => lo <= v && v <= hi).getOrElse(true)
      }
    case "d" =>
      val lo = mn.toDouble
      val hi = mx.toDouble
      keys.exists { k =>
        scala.util.Try(String.valueOf(k).toDouble)
          .map(v => lo <= v && v <= hi).getOrElse(true)
      }
    case _ => true
  }

  /** Corruption of the witness itself — truncation, a foreign edit —
    * is the same loud refusal as a tampered table file (never a bare
    * MatchError / NumberFormatException). */
  /** Parsed-witness cache: a committed witness is IMMUTABLE (snapshots
    * never rewrite in place — replaces and retention create/delete
    * whole snapshot dirs), so the parse can be reused across the many
    * reads one serving batch issues (an IVFADC serve alone does four
    * verified reads over two stores). Each hit still pays ONE
    * getFileStatus to prove the bytes on disk are the bytes that were
    * parsed (length+mtime — the same freshness evidence the witness
    * itself records for data files); any mismatch re-parses. Keys are
    * AUTHORITY-QUALIFIED ([[CommitArbiter.storeKey]]) — a path-only key
    * would let same-path stores on different filesystems alias, and a
    * len+mtime coincidence could then serve the WRONG store's parse.
    * Bounded by access-order LRU at 256 entries: the 257th store evicts
    * the least-recently-read parse, not the whole map (a serving JVM
    * touches a handful of stores; the bound is a leak guard — wholesale
    * clears would cold-start every OTHER store's serve path too). All
    * access is synchronized on the map (entries are few and each hit
    * already pays a getFileStatus, so the lock is never the bottleneck). */
  private val WitnessCacheCap = 256
  private val witnessCache =
    new java.util.LinkedHashMap[String, (Long, Long, Witness)](64, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[String, (Long, Long, Witness)]): Boolean =
        size() > WitnessCacheCap
    }

  /** Test hook: the cache's current keys, eldest-first. */
  private[ops] def witnessCacheKeys: Seq[String] =
    witnessCache.synchronized {
      scala.jdk.CollectionConverters.SetHasAsScala(witnessCache.keySet()).asScala.toSeq
    }

  /** Drop cached parses for one store — called by every path that can
    * DELETE a snapshot dir (retention/rollback), because a later commit
    * may reuse the freed snapshot id and local-FS mtime granularity
    * (1 ms) makes the length+mtime revalidation theoretically spoofable
    * within one tick. Immutable snapshots (the normal case) never need
    * this. */
  private def invalidateWitnessCache(store: String): Unit = {
    val prefix = CommitArbiter.storeKey(store) + "#"
    witnessCache.synchronized {
      witnessCache.keySet.removeIf(_.startsWith(prefix))
    }
    ()
  }

  private[ops] def recordedWitness(spark: SparkSession, store: String, snap: Long): Witness = {
    val p = new org.apache.hadoop.fs.Path(s"$store/${snapName(snap)}/$WitnessFile")
    val filesystem = fs(spark, store)
    val status =
      try filesystem.getFileStatus(p)
      catch {
        case _: java.io.FileNotFoundException =>
          throw new StaleStateException(
            s"snapshot ${snapName(snap)} at $store has no $WitnessFile — not " +
              "committed by StandingState, or the witness was removed")
      }
    val cacheKey = s"${CommitArbiter.storeKey(store)}#${snapName(snap)}"
    val cached = witnessCache.synchronized { witnessCache.get(cacheKey) }
    if (cached != null && cached._1 == status.getLen &&
        cached._2 == status.getModificationTime)
      return cached._3
    val parsed = parseWitness(spark, store, snap, p)
    witnessCache.synchronized {
      witnessCache.put(cacheKey,
        (status.getLen, status.getModificationTime, parsed))
    }
    parsed
  }

  private def parseWitness(
      spark: SparkSession, store: String, snap: Long,
      p: org.apache.hadoop.fs.Path): Witness = {
    val filesystem = fs(spark, store)
    // any failure from here on — unreadable bytes (a checksum mismatch on
    // an edited witness), truncation, a malformed line — is the same loud
    // refusal: the witness itself cannot be trusted
    try {
      val is = filesystem.open(p)
      val body =
        try scala.io.Source.fromInputStream(is, "UTF-8").mkString
        finally is.close()
      val lines = body.split("\n").filter(_.nonEmpty).toSeq
      val owner = lines.collectFirst { case l if l.startsWith("#owner=") =>
        l.stripPrefix("#owner=") }.getOrElse("")
      val rows = lines.filter(_.startsWith("#rows=")).map { l =>
        val Array(t, rel, n) = l.stripPrefix("#rows=").split("\t", 3)
        (t, rel, n.toLong)
      }.groupBy(_._1).view
        .mapValues(_.map { case (_, rel, n) => rel -> n }.toMap).toMap
      val stats = lines.filter(_.startsWith("#stats=")).map { l =>
        val Array(t, rel, kind, mn, mx) = l.stripPrefix("#stats=").split("\t", 5)
        (t, rel, (kind, mn, mx))
      }.groupBy(_._1).view
        .mapValues(_.map { case (_, rel, s) => rel -> s }.toMap).toMap
      val schemas = lines.filter(_.startsWith("#schema=")).map { l =>
        val Array(t, s) = l.stripPrefix("#schema=").split("\t", 2)
        t -> java.net.URLDecoder.decode(s, "UTF-8")
      }.toMap
      val files = lines.filterNot(_.startsWith("#")).map { line =>
        val Array(t, rel, len, mt) = line.split("\t", 4)
        (t, (rel, len.toLong, mt.toLong))
      }
      Witness(owner, files.groupBy(_._1).view.mapValues(_.map(_._2)).toMap,
        rows, stats, schemas)
    } catch {
      case e: StaleStateException => throw e
      case scala.util.control.NonFatal(e) =>
        throw new StaleStateException(
          s"unparseable witness at $store/${snapName(snap)} " +
            s"(${e.getClass.getSimpleName}) — the witness itself was " +
            "tampered with or truncated; refusing to trust the snapshot")
    }
  }

  /** Owner token recorded by the snapshot's committer ("" if none). */
  def ownerOf(spark: SparkSession, store: String, snap: Long): String =
    recordedWitness(spark, store, snap).owner

  /** Per-partition row counts a snapshot's witness records for `table`:
    * (partition dir relpath, rows), in partition order. The metadata
    * that lets maintenance policies (the cumulative ANN drift gate)
    * size the standing index and every appended delta WITHOUT a Spark
    * count job — the commit recorded each partition's count from the
    * file-sizing pass its write already paid for. */
  def partitionRows(
      spark: SparkSession, store: String, snap: Long, table: String): Seq[(String, Long)] =
    recordedWitness(spark, store, snap).rows
      .getOrElse(table, Map.empty).toSeq.sortBy(_._1)

  /** Partition dirs (store-relative) a witness references for a table. */
  private def partitionDirsOf(files: Seq[(String, Long, Long)]): Seq[String] =
    files.map(_._1.split("/").take(3).mkString("/")).distinct.sorted

  /** Hard gate: every partition the snapshot references for `table` must
    * list EXACTLY the files the committer recorded (names, sizes,
    * modification times) — a foreign file inside a referenced partition,
    * a missing part file, or an appended byte all refuse the read. */
  private def verify(
      spark: SparkSession, store: String, snap: Long, table: String): Unit = {
    val recorded = recordedWitness(spark, store, snap).files.getOrElse(table, Seq.empty)
    val actual = partitionDirsOf(recorded).flatMap(listing(spark, store, _))
    if (recorded.sortBy(_._1) != actual.sortBy(_._1)) {
      val rec = recorded.map(_._1).toSet
      val act = actual.map(_._1).toSet
      val changed = actual.filter { case (p, l, m) =>
        rec.contains(p) && !recorded.contains((p, l, m))
      }.map(_._1)
      throw new StaleStateException(
        s"standing table $store/$table does not match snapshot " +
          s"${snapName(snap)}'s witness " +
          s"(missing=${(rec -- act).toSeq.sorted.mkString(",")} " +
          s"extra=${(act -- rec).toSeq.sorted.mkString(",")} " +
          s"modified=${changed.sorted.mkString(",")}) — the state was " +
          "written or edited outside the commit protocol; refusing to " +
          "fold a delta into it")
    }
  }

  // ------------------------------------------------ commit capability

  /** Filesystems whose create-no-overwrite and rename are atomic — the
    * two primitives the commit protocol's exactly-once pins rest on.
    * POSIX rename and HDFS rename are atomic; LocalFileSystem's
    * create-exclusive is check-then-create but its RENAME is the
    * arbiter of record (documented at [[FsArbiter]]), so `file` is
    * safe. */
  private val AtomicRenameSchemes =
    Set("file", "local", "hdfs", "viewfs", "webhdfs", "ofs", "o3fs")

  /** Object stores: "rename" is copy-then-delete and create-exclusive
    * is check-then-create — NEITHER commit primitive holds, so two
    * racing writers can both believe they published the same snapshot.
    * Named explicitly so the refusal can say why. */
  private val ObjectStoreSchemes = Set(
    "s3", "s3a", "s3n", "gs", "wasb", "wasbs", "abfs", "abfss",
    "oss", "cos", "swift", "obs")

  /** Can this store's filesystem carry the commit protocol unaided?
    * Allowlist-based: an UNKNOWN scheme is treated as unsafe (the
    * conservative default — a misclassified-safe store corrupts
    * silently; a misclassified-unsafe one refuses loudly and the
    * operator overrides with `spark.graft.state.assumeAtomicRename`
    * after checking their filesystem's semantics). */
  private[ops] def fsCommitSafe(spark: SparkSession, store: String): Boolean = {
    val scheme = Option(fs(spark, store).getScheme).getOrElse("")
    AtomicRenameSchemes.contains(scheme) ||
      spark.conf.getOption("spark.graft.state.assumeAtomicRename").contains("true")
  }

  /** The write-path gate, checked before any lease is taken: a store on
    * a non-atomic filesystem is REFUSED at open unless an EXTERNAL
    * [[CommitArbiter]] supplies the atomic primitives (the
    * Iceberg-catalog analog — see [[CommitArbiter]]'s doc); the store's
    * own [[FsArbiter]] does not count, its records are only as atomic as
    * the filesystem. Reads stay free everywhere: immutable files +
    * witness verification don't need rename atomicity. */
  private def ensureCommitCapable(spark: SparkSession, store: String): Unit =
    if (CommitArbiter.forStore(spark, store).isEmpty && !fsCommitSafe(spark, store)) {
      val scheme = Option(fs(spark, store).getScheme).getOrElse("?")
      val kind =
        if (ObjectStoreSchemes.contains(scheme)) "an object store"
        else "a filesystem of unverified rename semantics"
      throw new StaleStateException(
        s"state store $store lives on '$scheme', $kind: rename is " +
          "copy-then-delete and create-exclusive is check-then-create " +
          "there, so the exactly-once commit protocol cannot hold. " +
          "Configure an external commit arbiter (the Iceberg-catalog " +
          "analog): StandingState/CommitArbiter.register(store, …) or " +
          "spark.graft.state.arbiter = memory:<name> | " +
          "dynamo[s]://host[:port]/Table (DynamoDB conditional-put). " +
          "If this filesystem's rename really is atomic, set " +
          "spark.graft.state.assumeAtomicRename=true instead.")
    }

  // ------------------------------------------------------------- lease

  private val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** The arbiter every lease and claim of `store` goes through: the
    * external one when registered or configured, else the store's own
    * [[FsArbiter]]. One protocol, whichever answers. */
  private def arbiterOf(spark: SparkSession, store: String): CommitArbiter =
    CommitArbiter.forStore(spark, store).getOrElse(FsArbiter(spark, store))

  private def snapClaimKey(store: String, snap: Long): String =
    CommitArbiter.claimKey(store, snapName(snap))

  /** Take the writer lease: one conditional put. A held lease from a
    * DIFFERENT owner refuses the commit loudly at start; the same owner
    * (a retrying batch) re-takes its own lease, replacing the record
    * with a fresh nonce via compare-and-delete + re-claim — losing
    * EITHER half of that pair means another acquisition raced in:
    * refuse, don't interleave. With an external arbiter the lease is
    * truly atomic and serializes commits end-to-end; with the store's
    * [[FsArbiter]] on Hadoop's LocalFileSystem, create-exclusive is
    * check-then-create, so the lease narrows the interleaving window
    * rather than closing it — the post-claim lease fence and the
    * witness-rename commit point (see [[commit]]) refuse a writer that
    * slipped past it. */
  private[ops] def acquireLease(spark: SparkSession, store: String, owner: String): Unit = {
    val arb = arbiterOf(spark, store)
    val key = CommitArbiter.leaseKey(store)
    val body = newLeaseBody(owner)
    def recordBody(): Unit =
      leaseBodies.set(leaseBodies.get + (CommitArbiter.storeKey(store) -> body))
    if (arb.putIfAbsent(key, body)) { recordBody(); return }
    val current = arb.get(key)
    // LOST-ACK resolution: the arbiter holds EXACTLY the record this
    // call tried to write — the conditional put landed server-side but
    // its ack was lost, and the transport-level retry saw the condition
    // fail against its own first attempt (DynamoDB's documented retried-
    // conditional shape). The nonce makes the body unique to this
    // acquisition, so holding it IS holding the lease — for anonymous
    // owners ("") too, where the owner-retake below never applies.
    if (current.contains(body)) { recordBody(); return }
    val held = current.map(_.takeWhile(_ != '\n')).getOrElse("<unreadable>")
    val age = current.flatMap(leaseAgeMs)
    val ttl = spark.conf.getOption("spark.graft.state.leaseTtlMs").map(_.toLong)
    val sameOwner = owner.nonEmpty && held == owner
    val expired = ttl.exists(t => age.exists(_ > t))
    if (sameOwner || expired) {
      // Same-owner retake (a retrying committer replacing its old record
      // with a fresh nonce) or FENCED TTL SEIZE (the crashed-writer
      // recovery path — `spark.graft.state.leaseTtlMs` is the operator's
      // standing assertion that a lease older than the TTL belongs to a
      // dead process). Both go compare-and-delete + re-claim: losing
      // either half to a LIVE competitor refuses below. deleteIf can
      // itself lose an ack — a false return with the key now absent (or
      // already re-claimed as ours) still means cleared.
      val cleared = current.exists { c =>
        arb.deleteIf(key, c) || arb.get(key).forall(_ == body)
      }
      if (cleared && (arb.putIfAbsent(key, body) || arb.get(key).contains(body))) {
        recordBody()
        if (!sameOwner) {
          // the seize is breakLease-with-fencing, applied automatically:
          // clear the stale snapshot claim(s) the dead writer can have
          // stranded mid-publish, so this writer recovers without a
          // human calling breakLease. The zombie — if it was merely slow,
          // not dead — is refused at ITS commit point by the post-claim
          // lease recheck (see [[commit]]): its lease record is gone.
          log.warn(
            s"lease for $store held by '$held' exceeded " +
              s"leaseTtlMs=${ttl.get} (age ${age.getOrElse(-1L)} ms); " +
              s"'$owner' seized it with fencing and cleared stale claims")
          clearStaleClaims(spark, arb, store)
        }
        return
      }
    }
    throw new StaleStateException(
      s"state store $store is write-leased by '$held'${ageClause(age)} — a " +
        "concurrent (or crashed) writer; refusing to interleave commits. " +
        "If the holder is dead, breakLease() explicitly" +
        (if (ttl.isEmpty)
          ", or set spark.graft.state.leaseTtlMs for automatic fenced recovery."
        else "."))
  }

  /** Lease record body: owner on line 1 (what refusals report and
    * same-owner retakes match on), a per-acquisition nonce on line 2 so
    * [[releaseOwnLease]] can tell THIS acquisition's lease from any
    * other writer's — including a same-owner retake from another thread
    * — and the acquisition's epoch millis on line 3, so refusals can
    * report how STALE the blocking lease is and the TTL fence
    * ([[acquireLease]]) can decide a holder is dead. */
  private def newLeaseBody(owner: String): String =
    owner + "\n" +
      java.lang.Long.toHexString(nextHex.incrementAndGet()) + "-" +
      java.lang.Long.toHexString(Thread.currentThread().getId) + "\n" +
      System.currentTimeMillis()

  /** Age of a lease record from its line-3 acquisition timestamp; None
    * for a record without one (it refuses, and never expires). */
  private def leaseAgeMs(body: String): Option[Long] =
    body.split("\n", 3).lift(2)
      .flatMap(l => scala.util.Try(l.trim.toLong).toOption)
      .map(t => math.max(0L, System.currentTimeMillis() - t))

  private def ageClause(age: Option[Long]): String =
    age.map(a => s" (held for ${a} ms)").getOrElse("")

  /** Delete the snapshot claim(s) a crashed writer can strand: claims
    * are only ever taken for latest+1 AT CLAIM TIME, so after any crash
    * the stale key sits at the CURRENT latest (the writer crashed after
    * its rename published the snapshot but before the finally-delete
    * released the claim) or at latest+1 (crashed before the rename).
    * Both are safe to clear here — a claim is only ever LIVE mid-publish
    * under the store's lease, which this caller just took or broke. */
  private def clearStaleClaims(
      spark: SparkSession, arb: CommitArbiter, store: String): Unit = {
    val latest = snapshots(spark, store).lastOption
    latest.foreach(l => arb.delete(snapClaimKey(store, l)))
    arb.delete(snapClaimKey(store, latest.map(_ + 1).getOrElse(0L)))
  }

  /** Compare-and-delete release: remove the lease only while it still
    * carries THIS acquisition's body (owner line + nonce line, recorded
    * by [[acquireLease]]). Where the lease is not truly atomic (the
    * [[FsArbiter]] on local disk) a racing writer can slip past it and
    * lose at the commit point — an unconditional delete in its exit path
    * would then remove the WINNER's live lease and reopen the store to a
    * third writer while the winner is still mid-commit. The nonce makes
    * each acquisition's body unique (two same-owner acquisitions differ
    * too), so the loser sees a body that isn't its own and leaves the
    * lease alone.
    *
    * No recorded body for this acquisition (release on a different
    * thread than acquire, or a call path outside withLease): skip the
    * delete rather than guess — deleting here could remove a LIVE
    * holder's lease, the exact hazard the nonce closes. Unconditional
    * removal stays breakLease-only. */
  private[ops] def releaseOwnLease(spark: SparkSession, store: String): Unit = {
    val key = CommitArbiter.storeKey(store)
    val mine = leaseBodies.get.get(key)
    leaseBodies.set(leaseBodies.get - key)
    mine match {
      case Some(body) =>
        arbiterOf(spark, store).deleteIf(CommitArbiter.leaseKey(store), body); ()
      case None => log.warn(
        s"releaseOwnLease($store): no recorded lease body for this thread; " +
          "leaving the lease for breakLease")
    }
  }

  /** The leases THIS thread holds: the exact body each live acquisition
    * wrote, keyed by qualified store — what [[releaseOwnLease]] and the
    * commit fence compare against, and what makes [[withLease]]
    * reentrant (retention inside a leased compaction, or a commit inside
    * leased retention, reuses the outer lease instead of deadlocking on
    * itself or releasing the outer scope's lease early). */
  private val leaseBodies = new ThreadLocal[Map[String, String]] {
    override def initialValue(): Map[String, String] = Map.empty
  }

  /** Run `f` under the store's writer lease (acquired with `owner`,
    * released after — unless an enclosing [[withLease]] on this thread
    * already holds it, in which case `f` runs under THAT lease). Every
    * mutating path — commits, retention, compaction — funnels through
    * this, so a retention sweep can never race a concurrent commit's
    * not-yet-referenced partition writes: one of the two fails loudly
    * at lease acquisition instead. */
  private def withLease[T](
      spark: SparkSession, store: String, owner: String)(f: => T): T =
    if (leaseBodies.get.contains(CommitArbiter.storeKey(store))) f
    else {
      ensureCommitCapable(spark, store) // refuse unsafe stores at open
      acquireLease(spark, store, owner)
      try f finally releaseOwnLease(spark, store)
    }

  /** Explicitly break a crashed writer's lease — loud and manual by
    * design (the lease exists to make concurrent writers fail at start;
    * silently expiring it would reopen the interleaving window; the
    * AUTOMATIC variant is the opt-in `spark.graft.state.leaseTtlMs`
    * fenced seize in [[acquireLease]]). Also clears the stale snapshot
    * claim(s) a crashed mid-commit writer can leave behind — at latest+1
    * (crashed before its rename) AND at the current latest (crashed
    * after the rename published but before the finally-delete released
    * the claim); see [[clearStaleClaims]]. */
  def breakLease(spark: SparkSession, store: String): Unit = {
    val arb = arbiterOf(spark, store)
    arb.delete(CommitArbiter.leaseKey(store))
    clearStaleClaims(spark, arb, store)
  }

  // ------------------------------------------------------------ tables

  /** One standing table to persist: a name under the state store, the
    * rows, and the column [[Layout.compact]] range-clusters the files
    * on (the column downstream reads key or filter by, so per-file
    * footer min/max prune). */
  case class TableSpec(name: String, df: DataFrame, clusterCol: String)

  private val nextHex = new java.util.concurrent.atomic.AtomicLong(0)

  /** The commit primitive every write path funnels through. `appends`
    * add a partition to a table inherited from `base`; `replaces` drop
    * the table's inherited partitions and reference only the fresh
    * write (the compaction / bootstrap path). Returns the new snapshot
    * id. See the object doc for the full protocol. */
  private def commit(
      spark: SparkSession,
      store: String,
      base: Option[Long],
      appends: Seq[TableSpec],
      replaces: Seq[TableSpec],
      owner: String,
      targetRowsPerFile: Long,
      expectedBase: Option[Long] = None): Long = {
    require(appends.nonEmpty || replaces.nonEmpty, "empty commit")
    withLease(spark, store, owner) {
      val baseWitness: Option[Witness] = base match {
        case Some(b) =>
          val latest = latestSnapshot(spark, store)
          if (b != latest) throw new StaleStateException(
            s"commit base ${snapName(b)} at $store is not the latest " +
              s"snapshot (${snapName(latest)}) — another writer committed " +
              "since this fold read its base; refusing to drop their work")
          val w = recordedWitness(spark, store, b)
          w.files.keys.foreach(verify(spark, store, b, _))
          Some(w)
        case None =>
          // replace commits carry no inherited listing, but a caller that
          // READ the store to build its replacement (compaction) must
          // still refuse a base that moved under it — a replace over a
          // newer snapshot would silently drop that writer's delta
          expectedBase.foreach { eb =>
            val latest = latestSnapshot(spark, store)
            if (eb != latest) throw new StaleStateException(
              s"replace-commit base ${snapName(eb)} at $store is not the " +
                s"latest snapshot (${snapName(latest)}) — another writer " +
                "committed since this rewrite read the store; refusing to " +
                "drop their work")
          }
          None
      }
      val baseFiles = baseWitness.map(_.files).getOrElse(Map.empty)
      // Schema-drift refusal, BEFORE any data is written: an append whose
      // shape differs from the table's standing shape would commit fine
      // and then read NONDETERMINISTICALLY — spark.read.parquet over
      // mixed-schema partitions projects whichever file's footer it
      // sampled, so a column added by a delta is silently invisible (or
      // a retyped column corrupts the scan) depending on file order.
      // The standing shape is the base witness's `#schema=` line, which
      // every commit records; a base table without one cannot be checked
      // and refuses the append. A table with no base partitions is a
      // table birth — it defines its own shape. Replaces are free by
      // design: bootstrap/compaction/refine DEFINE the standing shape.
      baseWitness.foreach { bw =>
        appends.foreach { t =>
          val got = canonicalSchema(t.df.schema)
          bw.schemas.get(t.name) match {
            case Some(exp) if exp != got =>
              throw new StaleStateException(
                s"schema drift refused for table ${t.name} at $store: the " +
                  s"standing shape is [$exp] but this append carries [$got] — " +
                  "mixed-schema partitions read nondeterministically; migrate " +
                  "via a replace commit (writeTables/compaction) that rewrites " +
                  "every partition under the new shape")
            case None if bw.files.contains(t.name) =>
              throw new StaleStateException(
                s"table ${t.name} at $store has no recorded standing shape " +
                  s"(no #schema line in ${snapName(base.get)}'s witness), so " +
                  "this append cannot be checked for schema drift; migrate " +
                  "via a replace commit (writeTables/compaction), which " +
                  "records the shape")
            case _ => ()
          }
        }
      }
      val newSnap = snapshots(spark, store).lastOption.map(_ + 1).getOrElse(0L)
      val replaced = replaces.map(_.name).toSet
      val hconf = spark.sessionState.newHadoopConf()
      val written = (appends ++ replaces).map { t =>
        val relDir = f"data/${t.name}/p$newSnap%05d-${nextHex.incrementAndGet().toHexString}"
        val (_, rows) =
          Layout.compactCounted(t.df, s"$store/$relDir", targetRowsPerFile, Seq(t.clusterCol))
        (t.name, listing(spark, store, relDir), relDir, rows)
      }
      // file-level zone maps: each written data file's cluster-column
      // min/max from its own footer, read ONCE here (bounded by the
      // commit's file count) so probes can file-prune from the witness
      val clusterColOf = (appends ++ replaces).map(t => t.name -> t.clusterCol).toMap
      val writtenStats = written.flatMap { case (t, files, _, _) =>
        files.collect { case (rel, _, _) if rel.endsWith(".parquet") =>
          fileStats(hconf, new org.apache.hadoop.fs.Path(s"$store/$rel"),
            clusterColOf(t)).map(s => (t, rel, s))
        }.flatten
      }
      val inherited = baseFiles.view.filterKeys(!replaced.contains(_)).toMap
      val merged: Map[String, Seq[(String, Long, Long)]] =
        (inherited.keySet ++ written.map(_._1)).map { t =>
          t -> (inherited.getOrElse(t, Seq.empty) ++
            written.filter(_._1 == t).flatMap(_._2)).sortBy(_._1)
        }.toMap
      // per-partition row counts: inherited partitions keep the base's
      // recorded counts, written partitions record the count the
      // file-sizing pass just computed — so any snapshot's witness sizes
      // the whole table (the cumulative-drift metadata) for free
      val inheritedRows = baseWitness.map(_.rows).getOrElse(Map.empty)
        .view.filterKeys(!replaced.contains(_)).toSeq
        .flatMap { case (t, m) => m.map { case (rel, n) => (t, rel, n) } }
      val writtenRows = written.map { case (t, _, relDir, n) => (t, relDir, n) }
      val rowLines = (inheritedRows ++ writtenRows).sortBy(r => (r._1, r._2))
        .map { case (t, rel, n) => s"#rows=$t\t$rel\t$n" }
      val inheritedStats = baseWitness.map(_.stats).getOrElse(Map.empty)
        .view.filterKeys(!replaced.contains(_)).toSeq
        .flatMap { case (t, m) => m.map { case (rel, s) => (t, rel, s) } }
      val statLines = (inheritedStats ++ writtenStats)
        .sortBy(r => (r._1, r._2))
        .map { case (t, rel, (k, mn, mx)) => s"#stats=$t\t$rel\t$k\t$mn\t$mx" }
      // per-table standing shape: written tables record their own
      // DataFrame's shape (the drift check above already proved appends
      // match), inherited-only tables carry the base's recorded line
      // forward
      val schemaOf: Map[String, String] =
        baseWitness.map(_.schemas).getOrElse(Map.empty) ++
          (appends ++ replaces).map(t => t.name -> canonicalSchema(t.df.schema))
      val schemaLines = merged.keySet.toSeq.sorted
        .flatMap(t => schemaOf.get(t).map(s =>
          s"#schema=$t\t${java.net.URLEncoder.encode(s, "UTF-8")}"))
      val body = (s"#owner=$owner" +: (schemaLines ++ rowLines ++ statLines ++
        merged.toSeq.sortBy(_._1).flatMap {
          case (t, files) => files.map { case (p, len, mt) => s"$t\t$p\t$len\t$mt" }
        })).mkString("\n")
      // commit point: CLAIM the snapshot number by conditional put, then
      // witness into a temp dir and ONE rename. Where rename is
      // copy+delete (object stores, behind an external arbiter) the claim
      // is the real commit decision; on a filesystem with atomic rename
      // the rename stays the arbiter of record and the claim is a second
      // belt (it refuses the overlap left by an operator breaking a LIVE
      // writer's lease)
      val arb = arbiterOf(spark, store)
      val claimKey = snapClaimKey(store, newSnap)
      val claimBody = s"$owner\n" +
        java.lang.Long.toHexString(nextHex.incrementAndGet())
      // lost-ack resolution, same shape as the lease: a record holding
      // EXACTLY this body means OUR conditional put landed and only its
      // ack was lost to a transport retry — the claim is held
      val claimed =
        arb.putIfAbsent(claimKey, claimBody) || arb.get(claimKey).contains(claimBody)
      if (!claimed)
        throw new StaleStateException(
          s"snapshot ${snapName(newSnap)} at $store is already claimed " +
            "at the commit arbiter — a concurrent (or crashed) commit " +
            "holds it; this fold must re-read the new base (if the " +
            "holder is dead, breakLease() clears the stale claim)")
      // FENCE: the lease must still be THIS acquisition's record. A TTL
      // seize (a new owner recovering past a crashed-looking writer, see
      // acquireLease) lands between our lease acquisition and this claim
      // — publishing anyway would interleave with the seizer's commits,
      // the exact overlap the lease exists to refuse. Release the claim
      // and refuse; the seizer's own claim/publish proceeds unraced. (The
      // residual window — seized between this recheck and the rename
      // below — is bounded by one driver-side witness write; the TTL is
      // the operator's assertion that no holder is still alive there.)
      val mine = leaseBodies.get.get(CommitArbiter.storeKey(store))
      if (!mine.exists(b => arb.get(CommitArbiter.leaseKey(store)).contains(b))) {
        arb.delete(claimKey)
        throw new StaleStateException(
          s"writer lease for $store was lost before publishing " +
            s"${snapName(newSnap)} — seized by a new owner past " +
            "leaseTtlMs (or broken explicitly); refusing to publish " +
            "over the new owner's commits")
      }
      try {
        val filesystem = fs(spark, store)
        val tmp = new org.apache.hadoop.fs.Path(
          s"$store/.${snapName(newSnap)}-tmp${nextHex.incrementAndGet().toHexString}")
        val os = filesystem.create(new org.apache.hadoop.fs.Path(tmp, WitnessFile), true)
        try os.write(body.getBytes("UTF-8")) finally os.close()
        val dst = new org.apache.hadoop.fs.Path(s"$store/${snapName(newSnap)}")
        if (filesystem.exists(dst) || !filesystem.rename(tmp, dst))
          throw new StaleStateException(
            s"snapshot ${snapName(newSnap)} at $store already exists — a " +
              "concurrent commit won the rename; this fold must re-read " +
              "the new base")
      } finally {
        // the claim is an IN-FLIGHT marker, not a permanent record:
        // released once the publish attempt resolves either way, so
        // snapshot numbers reused after rollbackTo re-claim cleanly
        // (only a crash strands one — breakLease clears it)
        arb.delete(claimKey)
      }
      refreshDigest(spark, store)
      newSnap
    }
  }

  /** Bootstrap/compaction write — EVERY table of the new snapshot in one
    * call (each range-clustered through [[Layout.compact]]), replacing
    * any inherited partitions. On a fresh dir this commits snapshot 0
    * (the generic seam: manifest state, the retrieval index, the
    * decontamination ledger, the ANN index each bring their own table
    * set); on an existing store it IS the bounded-cadence compaction —
    * an honest full rewrite that folds accumulated delta partitions
    * back to one, after which [[keepSnapshots]] reclaims them.
    *
    * A compaction-style caller that built `tables` by READING the store
    * passes the snapshot it read as `expectedBase`: the commit then
    * refuses (StaleStateException) if another writer committed in
    * between — a replace over a moved base would silently drop that
    * writer's delta. Bootstrap callers on a fresh dir leave it None. */
  def writeTables(
      root: String,
      tables: Seq[TableSpec],
      targetRowsPerFile: Long = 4000000L,
      owner: String = "",
      expectedBase: Option[Long] = None): Long = {
    require(tables.nonEmpty, "a standing state needs at least one table")
    val spark = tables.head.df.sparkSession
    commit(spark, root, None, Seq.empty, tables, owner, targetRowsPerFile, expectedBase)
  }

  /** Delta commit: append one partition per table, inheriting the rest
    * of the latest snapshot by reference — the per-night write is sized
    * by the delta, never by the standing corpus. Same-`owner` replays
    * (a restarted stream batch) are skipped idempotently. Returns the
    * committed snapshot id (the latest one, for a skipped replay). */
  def appendTables(
      store: String,
      tables: Seq[TableSpec],
      owner: String = "",
      targetRowsPerFile: Long = 4000000L): Long = {
    require(tables.nonEmpty, "nothing to append")
    val spark = tables.head.df.sparkSession
    val latest = latestSnapshot(spark, store)
    if (owner.nonEmpty && ownerOf(spark, store, latest) == owner) latest
    else commit(spark, store, Some(latest), tables, Seq.empty, owner, targetRowsPerFile)
  }

  /** Witness-verified scan of one standing table at a snapshot (default:
    * latest) — the union of every partition the snapshot references. */
  def readTable(
      spark: SparkSession, root: String, name: String, snap: Long = -1L): DataFrame = {
    val s = if (snap >= 0) snap else latestSnapshot(spark, root)
    verify(spark, root, s, name)
    refreshDigest(spark, root)
    val dirs = partitionDirsOf(
      recordedWitness(spark, root, s).files.getOrElse(name, Seq.empty))
    if (dirs.isEmpty)
      throw new StaleStateException(s"snapshot ${snapName(s)} at $root has no table $name")
    spark.read.parquet(dirs.map(d => s"$root/$d"): _*)
  }

  /** Witness-verified scan of `table` reading ONLY the data files whose
    * recorded cluster-column zone map ([[fileStats]], written into the
    * witness at commit time) admits at least one of `keys` — FILE-level
    * pruning decided from snapshot metadata alone, before the engine
    * ever lists or opens anything: no footer reads at probe time and no
    * dependence on IN-pushdown value limits. Lossless by construction
    * (a file is skipped only when every key falls outside its recorded
    * [min, max]); files without a recorded zone (pre-stats commits,
    * all-null columns) are always read. Verification is UNCHANGED — the
    * whole snapshot listing is checked before any file is selected, so
    * pruned reads refuse tampered stores exactly like [[readTable]].
    * Callers keep their key predicate on the result (the zone map
    * prunes files; the predicate prunes row groups and rows). */
  def readTablePruned(
      spark: SparkSession,
      root: String,
      name: String,
      keys: Seq[Any],
      snap: Long = -1L): DataFrame = {
    val s = if (snap >= 0) snap else latestSnapshot(spark, root)
    verify(spark, root, s, name)
    refreshDigest(spark, root)
    val w = recordedWitness(spark, root, s)
    val files = w.files.getOrElse(name, Seq.empty)
    if (files.isEmpty)
      throw new StaleStateException(s"snapshot ${snapName(s)} at $root has no table $name")
    val zones = w.stats.getOrElse(name, Map.empty)
    val keep = files.map(_._1).filter(_.endsWith(".parquet")).filter { rel =>
      zones.get(rel).forall { case (k, mn, mx) => zoneAdmits(k, mn, mx, keys) }
    }
    if (keep.isEmpty)
      // every zone excluded every key: an empty frame with the table's
      // schema (derived from the full listing, rows never read)
      readTable(spark, root, name, s).filter(lit(false))
    else spark.read.parquet(keep.map(f => s"$root/$f"): _*)
  }

  /** Metadata-only pruning census for `table` under `keys`: (admitting
    * files, total data files) at the latest snapshot — exactly the
    * selection [[readTablePruned]] would read, WITHOUT reading (or even
    * verifying) anything: one witness parse, zero file opens. The soak
    * harness records this per scale step as the measured evidence that
    * probe reads stay probe-sized while the standing corpus grows. */
  def prunedFileCounts(
      spark: SparkSession,
      root: String,
      name: String,
      keys: Seq[Any]): (Int, Int) = {
    val s = latestSnapshot(spark, root)
    val w = recordedWitness(spark, root, s)
    val files = w.files.getOrElse(name, Seq.empty)
      .map(_._1).filter(_.endsWith(".parquet"))
    val zones = w.stats.getOrElse(name, Map.empty)
    val keep = files.count { rel =>
      zones.get(rel).forall { case (k, mn, mx) => zoneAdmits(k, mn, mx, keys) }
    }
    (keep, files.size)
  }

  // ------------------------------------------------------------ retention

  /** Retire a whole standing-state store — the retention step for a
    * superseded ROOT (e.g. a rotated nightly ledger root). Deliberately
    * witness-GATED: every live snapshot must still verify, so a typo'd
    * path, a half-written root, or a directory some other process has
    * scribbled into is REFUSED rather than recursively deleted —
    * deletion is the one operation where "loud refusal on anything
    * unexpected" matters most. Callers retire a root only after the
    * night that READ it has committed its output elsewhere.
    *
    * Every retention path runs under the writer LEASE (same gate as
    * commits): a sweep racing a concurrent commit could otherwise delete
    * the commit's freshly written, not-yet-referenced partitions — the
    * commit would then record a partial listing in its witness, which is
    * silent data loss. With the lease, one of the two fails loudly at
    * start instead. A crashed retention leaves a lease held by
    * `retention-sweep`; breakLease() clears it, exactly as for a
    * crashed commit. */
  def retire(spark: SparkSession, root: String): Unit =
    withLease(spark, root, RetentionOwner) {
      val snaps = snapshots(spark, root)
      if (snaps.isEmpty)
        throw new StaleStateException(
          s"$root holds no committed snapshot — not a standing-state store; " +
            "refusing to recursively delete it")
      refuseTagged(spark, root, snaps, "retire")
      snaps.foreach { s =>
        recordedWitness(spark, root, s).files.keys.foreach(verify(spark, root, s, _))
      }
      fs(spark, root).delete(new org.apache.hadoop.fs.Path(root), true)
      invalidateWitnessCache(root)
      storeDigests.remove(qualifiedKey(spark, root))
      ()
    }

  /** Lease token retention paths hold — distinct from any commit owner,
    * so a crashed sweep is identifiable (and re-runnable: a later sweep
    * re-takes its own token). */
  private val RetentionOwner = "retention-sweep"

  // ------------------------------------------------------ snapshot tags

  /** Snapshot TAGS — retention-proof pins (the Iceberg tag/ref analog).
    * A serving deployment that registers a tenant view over an OLD
    * snapshot (`readTable(snap)` behind `TenantFrontend.registerView`)
    * otherwise races the store's retention: `keepSnapshots` counts from
    * the newest and would reclaim the pinned snapshot's witness and,
    * with it, any partitions only it references — the live view then
    * dies mid-serve with FileNotFound. A tag is one marker file inside
    * the snapshot dir (`_TAG-<name>`, created under the writer lease);
    * bounded retention keeps every tagged snapshot REGARDLESS of the
    * keep count (its partitions stay referenced, so the orphan sweep
    * keeps them too), while the EXPLICIT deletion paths — rollbackTo,
    * retireSnapshot, retire — refuse a tagged snapshot loudly: pins are
    * released by `untagSnapshot`, never as a side effect. Tags are
    * deployment metadata, not witness content — the witness (and its
    * digest) is unchanged, so tagging never invalidates caches. */
  def tagSnapshot(
      spark: SparkSession, store: String, snap: Long, tag: String): Unit = {
    require(tag.nonEmpty && tag.forall(c =>
      c.isLetterOrDigit || c == '.' || c == '_' || c == '-'),
      s"tag '$tag' must be [A-Za-z0-9._-]+ (it names a marker file)")
    withLease(spark, store, RetentionOwner) {
      if (!snapshots(spark, store).contains(snap))
        throw new StaleStateException(
          s"$store has no snapshot ${snapName(snap)} to tag")
      val filesystem = fs(spark, store)
      val os = filesystem.create(tagPath(store, snap, tag), true)
      try os.write(tag.getBytes("UTF-8")) finally os.close()
      ()
    }
  }

  /** Release one tag; idempotent (a missing marker is already released).
    * The next bounded retention may then reclaim the snapshot. */
  def untagSnapshot(
      spark: SparkSession, store: String, snap: Long, tag: String): Unit =
    withLease(spark, store, RetentionOwner) {
      fs(spark, store).delete(tagPath(store, snap, tag), false)
      ()
    }

  /** Tags currently pinning `snap` (empty when unpinned or retired). */
  def tagsOf(spark: SparkSession, store: String, snap: Long): Seq[String] = {
    val dir = new org.apache.hadoop.fs.Path(s"$store/${snapName(snap)}")
    val filesystem = fs(spark, store)
    if (!filesystem.exists(dir)) Seq.empty
    else filesystem.listStatus(dir).toSeq.map(_.getPath.getName)
      .filter(_.startsWith(TagPrefix)).map(_.stripPrefix(TagPrefix)).sorted
  }

  private val TagPrefix = "_TAG-"
  private def tagPath(store: String, snap: Long, tag: String) =
    new org.apache.hadoop.fs.Path(s"$store/${snapName(snap)}/$TagPrefix$tag")

  /** Resolve a tag to its snapshot — time travel BY NAME:
    * `readTable(spark, store, table, snapshotForTag(spark, store, tag))`
    * serves "the ledger as benchmark d1 saw it" without the caller
    * bookkeeping snapshot ids. A tag names at most one snapshot by
    * construction IN ONE tagging discipline, but nothing stops two
    * writers tagging two snapshots with the same name — that ambiguity
    * is refused loudly (serving from whichever-listed-first would be a
    * silent wrong-history read). Missing tag → StaleStateException. */
  def snapshotForTag(spark: SparkSession, store: String, tag: String): Long = {
    val hits = snapshots(spark, store)
      .filter(s => tagsOf(spark, store, s).contains(tag))
    hits match {
      case Seq(one) => one
      case Seq() => throw new StaleStateException(
        s"$store has no snapshot tagged '$tag'")
      case many => throw new StaleStateException(
        s"tag '$tag' at $store names ${many.size} snapshots " +
          s"(${many.map(snapName).mkString(", ")}) — ambiguous; untag the " +
          "stale ones")
    }
  }

  /** Refusal helper for the explicit deletion paths. */
  private def refuseTagged(
      spark: SparkSession, store: String, snaps: Seq[Long], op: String): Unit = {
    val pinned = snaps.flatMap(s =>
      tagsOf(spark, store, s).map(t => s"${snapName(s)}[$t]"))
    if (pinned.nonEmpty)
      throw new StaleStateException(
        s"$op at $store would delete tagged snapshot(s) " +
          s"${pinned.mkString(", ")} — a live deployment pinned them; " +
          "untagSnapshot first if the pin is truly dead")
  }

  /** Bounded retention WITHIN a store: keep the newest `keep` snapshots,
    * delete retired snapshot witnesses, and sweep every data partition
    * no surviving snapshot references (including orphans from crashed
    * commit attempts). Shared base partitions survive as long as any
    * live snapshot references them — retiring an old snapshot costs one
    * witness file, not a state copy. Witness-gated like [[retire]]:
    * survivors must verify before anything is deleted. Lease-gated like
    * every retention path (see [[retire]]). */
  def keepSnapshots(spark: SparkSession, store: String, keep: Int): Unit = {
    require(keep >= 1, "must keep at least one snapshot")
    withLease(spark, store, RetentionOwner) {
      val snaps = snapshots(spark, store)
      // tagged snapshots survive bounded retention regardless of the
      // keep count — they are live deployments' pins ([[tagSnapshot]])
      val drop = snaps.dropRight(keep)
        .filter(s => tagsOf(spark, store, s).isEmpty)
      if (drop.isEmpty) { sweepOrphans(spark, store) }
      else {
        val survive = snaps.filterNot(drop.toSet)
        survive.foreach { s =>
          recordedWitness(spark, store, s).files.keys.foreach(verify(spark, store, s, _))
        }
        val filesystem = fs(spark, store)
        drop.foreach { s =>
          filesystem.delete(new org.apache.hadoop.fs.Path(s"$store/${snapName(s)}"), true)
        }
        invalidateWitnessCache(store)
        sweepOrphans(spark, store)
        refreshDigest(spark, store)
      }
    }
  }

  /** Retire every snapshot NEWER than `snap`, rolling the store back to a
    * known base — the recurring-run fixture pattern: each bench/battery
    * run re-folds its nights from the standing bootstrap, so the prior
    * run's delta snapshots (and their now-unreferenced partitions) are
    * reclaimed first and per-run disk stays bounded. Witness-gated: the
    * rollback target must verify before anything is deleted. Lease-gated
    * like every retention path (see [[retire]]). */
  def rollbackTo(spark: SparkSession, store: String, snap: Long): Unit =
    withLease(spark, store, RetentionOwner) {
      val snaps = snapshots(spark, store)
      if (!snaps.contains(snap))
        throw new StaleStateException(
          s"$store has no snapshot ${snapName(snap)} to roll back to " +
            s"(live: ${snaps.mkString(",")})")
      refuseTagged(spark, store, snaps.filter(_ > snap), "rollbackTo")
      recordedWitness(spark, store, snap).files.keys.foreach(verify(spark, store, snap, _))
      val filesystem = fs(spark, store)
      snaps.filter(_ > snap).foreach { s =>
        filesystem.delete(new org.apache.hadoop.fs.Path(s"$store/${snapName(s)}"), true)
      }
      invalidateWitnessCache(store)
      sweepOrphans(spark, store)
      refreshDigest(spark, store)
    }

  /** Retire ONE superseded snapshot (never the latest — consumers read
    * it). Cheap by construction: a snapshot is one witness file, and its
    * delta partitions survive while any newer snapshot references them.
    * Lease-gated like every retention path (see [[retire]]). */
  def retireSnapshot(spark: SparkSession, store: String, snap: Long): Unit =
    withLease(spark, store, RetentionOwner) {
      val snaps = snapshots(spark, store)
      if (snap == snaps.last)
        throw new StaleStateException(
          s"refusing to retire the LATEST snapshot ${snapName(snap)} at $store")
      refuseTagged(spark, store, Seq(snap), "retireSnapshot")
      recordedWitness(spark, store, snaps.last).files.keys
        .foreach(verify(spark, store, snaps.last, _))
      fs(spark, store).delete(
        new org.apache.hadoop.fs.Path(s"$store/${snapName(snap)}"), true)
      invalidateWitnessCache(store)
      sweepOrphans(spark, store)
      refreshDigest(spark, store)
    }

  /** Delete data partitions referenced by NO live snapshot. Only called
    * from retention (never concurrently with a commit's partition writes
    * — the caller sequences retention after its own commit). */
  private def sweepOrphans(spark: SparkSession, store: String): Unit = {
    val filesystem = fs(spark, store)
    val dataDir = new org.apache.hadoop.fs.Path(s"$store/data")
    if (!filesystem.exists(dataDir)) return
    val referenced = snapshots(spark, store).flatMap { s =>
      recordedWitness(spark, store, s).files.values.flatMap(partitionDirsOf)
    }.toSet
    filesystem.listStatus(dataDir).foreach { tdir =>
      filesystem.listStatus(tdir.getPath).foreach { pdir =>
        val rel = s"data/${tdir.getPath.getName}/${pdir.getPath.getName}"
        if (!referenced.contains(rel)) filesystem.delete(pdir.getPath, true)
      }
    }
  }

  /** Bytes of data partitions FIRST referenced by snapshot `snap` — the
    * write volume that snapshot's fold actually paid (the soak's
    * flat-per-night evidence). */
  def snapshotDataBytes(spark: SparkSession, store: String, snap: Long): Long =
    recordedWitness(spark, store, snap).files.values.flatten
      .filter { case (p, _, _) => p.contains(f"/p$snap%05d-") }
      .map(_._2).sum

  // -------------------------------------------- witness digest registry
  // In-JVM bridge for Materialize's cache keys: one witness read stands
  // in for an O(files) stat sweep when an index input is a standing
  // table (the partitions accumulate nightly under the append layout —
  // per-file stats would grow per night; the digest is O(1) reads).

  /** Registry key: the store's FULLY QUALIFIED location (scheme +
    * authority + path). Keying on the path alone would alias two stores
    * with the same path on different filesystems (file:/data/x and
    * hdfs://nn/data/x) to one entry — a cache key could then be
    * versioned by the WRONG store's digest, a stale-hit risk. */
  private case class StoreKey(scheme: String, authority: String, path: String)

  private def qualifiedKey(spark: SparkSession, store: String): StoreKey = {
    val q = fs(spark, store)
      .makeQualified(new org.apache.hadoop.fs.Path(store)).toUri
    StoreKey(
      Option(q.getScheme).getOrElse(""),
      Option(q.getAuthority).getOrElse(""),
      Option(q.getPath).getOrElse(norm(store)))
  }

  private val storeDigests =
    new java.util.concurrent.ConcurrentHashMap[StoreKey, String]()

  private def refreshDigest(spark: SparkSession, store: String): Unit =
    try {
      val filesystem = fs(spark, store)
      // Digest over each live witness's (snapshot, length, mtime) — NOT
      // its body. refreshDigest runs on EVERY verified read; re-reading
      // every snapshot's full witness body made each read pay the whole
      // store's metadata volume again (140 MiB per read at the measured
      // 1M-file scale point — guide §5, the driver should do almost no
      // data work). Length+mtime is the same freshness evidence the
      // witness PARSE cache already trusts (a commit adds an entry, a
      // retention removes one), at the cost of one getFileStatus per
      // snapshot instead of one full read. It shares that cache's
      // aliasing (see invalidateWitnessCache): a witness REWRITTEN IN
      // PLACE to the same length within one mtime tick (1 ms on local
      // disk, 1 s on some stores) keeps its mark, so the digest — and a
      // cache key versioned by it — does not move. Committed witnesses
      // are never rewritten in place, so only a write outside the commit
      // protocol can land there; folding a content hash in instead would
      // put a body read back on every verified read.
      val marks = snapshots(spark, store).map { s =>
        val p = new org.apache.hadoop.fs.Path(s"$store/${snapName(s)}/$WitnessFile")
        val st = filesystem.getFileStatus(p)
        s"${snapName(s)}:${st.getLen}:${st.getModificationTime}"
      }
      val md = java.security.MessageDigest.getInstance("MD5")
      val digest = md.digest(marks.mkString("\u0000").getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
      storeDigests.put(qualifiedKey(spark, store), digest)
      ()
    } catch { case scala.util.control.NonFatal(_) => () } // registry is an optimization, never a failure

  /** If `file` lives under a registered standing store's data dir, the
    * store's current witness digest — a complete data-version witness
    * for cache keys (any commit/retention changes it) obtained without
    * statting the file. Matching is scheme/authority-aware: a file URI
    * carrying an explicit scheme matches only a store registered on
    * that filesystem; a bare path matches only when it resolves to
    * exactly ONE registered store (ambiguity returns None — a per-file
    * stat sweep beats trusting the wrong store's digest). */
  def witnessedVersion(file: String): Option[String] = {
    val u = new org.apache.hadoop.fs.Path(file).toUri
    val fScheme = Option(u.getScheme).getOrElse("")
    val fAuth = Option(u.getAuthority).getOrElse("")
    val fPath = Option(u.getPath).getOrElse(file)
    def compat(a: String, b: String) = a.isEmpty || b.isEmpty || a == b
    val it = storeDigests.entrySet().iterator()
    var hit: Option[String] = None
    while (it.hasNext) {
      val e = it.next()
      val k = e.getKey
      if (fPath.startsWith(k.path + "/") &&
          compat(fScheme, k.scheme) && compat(fAuth, k.authority)) {
        val tag = s"${k.scheme}://${k.authority}${k.path}@${e.getValue}"
        if (hit.exists(_ != tag)) return None // ambiguous path: refuse
        hit = Some(tag)
      }
    }
    hit
  }

  // ------------------------------------------------------ manifest family

  /** Witness-verified scan of the standing fingerprint table (append-only
    * — the union of every night's partition). */
  def readFingerprints(spark: SparkSession, store: String): DataFrame =
    readTable(spark, store, FpTable)

  /** Witness-verified LATEST cluster assignment: the cluster table is
    * maintained as revisions ((doc_id, cluster, _seq) — only changed
    * assignments are appended per night), resolved latest-wins with one
    * max-of-struct partial aggregate (map-side combine; one skinny row
    * per doc shuffles). The RESOLVED assignment is materialized through
    * the content-addressed index (keyed by the partition paths + the
    * store's witness digest, so any commit refreshes it): a nightly fold
    * consumes the assignment three-plus times (merge lift, new-node
    * anti-join, changed-row anti-join, the manifest read), and without
    * the materialization each consumer would re-run the revision
    * aggregate through its own lineage — the resolve-once-serve-many
    * shape a snapshot store's read path wants at any scale. */
  def readClusters(spark: SparkSession, store: String): DataFrame = {
    // latest-wins revision resolve as the hash-combinable
    // [[graft.functions.ArgMaxLong]] (max `_seq`, ties to the highest
    // cluster — exactly max(struct(_seq, cluster))): a struct max
    // plans as SortAggregate, which sorts the corpus-sized revision
    // stream partial-side. `_seq` is a snapshot ordinal (tiny), so the
    // double key is exact.
    import org.apache.spark.sql.graftshim.ColumnExpr
    val latest = ColumnExpr.column(graft.functions.ArgMaxLong(
      ColumnExpr.expr(col("cluster").cast("long")),
      ColumnExpr.expr(col("_seq").cast("double")),
      preferLowValue = false).toAggregateExpression())
    Materialize.index(
      readTable(spark, store, ClTable)
        .groupBy("doc_id")
        .agg(latest.as("cluster")),
      "standing-cl-latest")
  }

  /** Both perceptual fingerprint families for an asset batch, one row
    * per asset: (asset_id, phash, dhash) — MATERIALIZED once
    * ([[Materialize.index]]): three consumers read it per night (each
    * family's block probe plus the table write), and without the
    * materialization each would re-derive both hash computations
    * through its own lineage (payload hashing ×3, the exact cost the
    * standing-state seam exists to avoid). The only place payload bytes
    * are ever decoded — everything downstream is fingerprint-keyed. */
  def fingerprint(assets: DataFrame): DataFrame =
    Materialize.index(
      Multimodal.perceptualHash(assets)
        .join(Multimodal.dhash(assets), "asset_id"),
      "standing-fp")

  /** Block-key rows for BOTH perceptual fingerprint families of an
    * asset batch — the rows [[FpBlocksTable]] holds, one per (family,
    * block, asset): (bk, simhash, asset_id), 6 skinny rows per asset.
    * The family tag ('p|' / 'd|') is embedded IN the key, so one
    * bk-range-clustered table serves both probes and an equijoin can
    * never pair fingerprints across families. */
  private def blockRowsOf(fp: DataFrame): DataFrame =
    Dedup.blockRows(
        fp.select(col("asset_id"), col("phash").as("simhash")), "asset_id", "p|")
      .unionByName(Dedup.blockRows(
        fp.select(col("asset_id"), col("dhash").as("simhash")), "asset_id", "d|"))

  /** The nightly delta's distinct block keys as driver literals when
    * they fit under [[ProbeLiteralCap]] — the pushed `bk IN (...)`
    * filter that lets the standing block table's footer stats skip
    * files. One bounded job over the already-materialized delta
    * fingerprints (≤ cap+1 short strings ever reach the driver); a
    * bigger delta returns None and the probe joins against the full
    * scan, whose one standing-table pass that delta size amortizes. */
  private def literalProbeKeys(deltaBlocks: DataFrame): Option[Seq[String]] = {
    val keys = deltaBlocks.select("bk").distinct().limit(ProbeLiteralCap + 1)
      .collect().map(_.getString(0)).toIndexedSeq
    if (keys.size > ProbeLiteralCap) None else Some(keys)
  }

  /** new↔new ∪ new↔old near-dup pairs for both fingerprint families,
    * with the old side served entirely from the standing block-key
    * table ([[Dedup.hammingPairsDeltaIndexed]]) — the standing
    * FINGERPRINT table is never scanned at probe time, and with
    * literal keys the block scan itself is file-pruned to the delta's
    * buckets. */
  private def pairsOfIndexed(
      fpNew: DataFrame,
      standingBlocks: DataFrame,
      probeKeys: Option[Seq[String]]): DataFrame = {
    def fam(hashCol: String, prefix: String) =
      Dedup.hammingPairsDeltaIndexed(
          fpNew.select(col("asset_id"), col(hashCol).as("simhash")),
          standingBlocks, "asset_id", prefix = prefix,
          probeKeys = probeKeys.map(_.filter(_.startsWith(prefix))))
        .select("id_a", "id_b")
    fam("phash", "p|").unionByName(fam("dhash", "d|")).distinct()
  }

  /** Night 0: fingerprint the FULL initial corpus, close its pair graph,
    * commit snapshot 0 of the store. The only night that pays a
    * corpus-sized fingerprint pass — and the only corpus-sized WRITE;
    * every later night appends deltas. */
  def bootstrap(
      assets: DataFrame,
      store: String,
      targetRowsPerFile: Long = 4000000L): Unit = {
    val fp = fingerprint(assets)
    val pairs = Dedup.hammingPairs64(
        fp.select(col("asset_id"), col("phash").as("simhash")), "asset_id")
      .select("id_a", "id_b")
      .unionByName(Dedup.hammingPairs64(
          fp.select(col("asset_id"), col("dhash").as("simhash")), "asset_id")
        .select("id_a", "id_b"))
      .distinct()
    val clusters = Cluster.dupClusters(pairs)
      .select(col("doc_id"), col("cluster"), lit(0L).as("_seq"))
    writeTables(store, Seq(
      TableSpec(FpTable, fp, "asset_id"),
      TableSpec(FpBlocksTable, blockRowsOf(fp), "bk"),
      TableSpec(ClTable, clusters, "doc_id")), targetRowsPerFile)
    ()
  }

  /** GENERIC bounded-cadence compaction — the layout knob for every
    * standing family whose tables fold by plain union (the retrieval
    * postings' disjoint (tok, doc) keys, the ANN cells/codes where each
    * id appears once, the long-format ledger): when any listed table
    * has accumulated more than `maxPartitions` nightly partition dirs,
    * rewrite EVERY listed table as one partition, re-range-clustered on
    * its cluster column (fresh witness zone maps come for free from the
    * commit's stats pass), as a replace-snapshot under ONE lease with
    * the read snapshot pinned as expectedBase, then reclaim superseded
    * snapshots. Row-preserving BY CONSTRUCTION — each table is
    * rewritten as its own verified union; a family whose fold is a
    * RESOLUTION (the manifest's latest-wins cluster revisions) uses its
    * family-specific compactor ([[compactManifest]]), and a family
    * whose MAINTENANCE POLICY reads partition history (the ANN stores:
    * [[AnnIndex]]'s cumulative drift gates treat the oldest partition
    * as the seed) must use its policy rewrite ([[AnnIndex.refine]] /
    * `refinePq`) — a layout-only fold there would silently reset the
    * drift debt without refreshing the structures it measures. Returns
    * true when a compaction ran. */
  def compactTables(
      spark: SparkSession,
      store: String,
      tables: Seq[(String, String)],
      maxPartitions: Int = 64,
      owner: String = "",
      targetRowsPerFile: Long = 4000000L): Boolean = {
    require(tables.nonEmpty, "compactTables needs at least one (table, clusterCol)")
    val snap = latestSnapshot(spark, store)
    val w = recordedWitness(spark, store, snap)
    // the rewrite is a replace-snapshot: any standing table NOT listed
    // would vanish from the new witness and the retention that follows
    // would reclaim its data files — refuse loudly instead of letting a
    // subset compaction silently destroy the unlisted tables
    val unlisted = w.files.keySet -- tables.map(_._1).toSet
    if (unlisted.nonEmpty)
      throw new StaleStateException(
        s"compactTables at $store lists ${tables.map(_._1).sorted.mkString(", ")} " +
          s"but the store also holds ${unlisted.toSeq.sorted.mkString(", ")} — a " +
          "replace-snapshot would drop the unlisted tables and retention would " +
          "reclaim their files; list EVERY table (with its cluster column) or " +
          "use the family-specific compactor")
    val over = tables.exists { case (t, _) =>
      partitionDirsOf(w.files.getOrElse(t, Seq.empty)).size > maxPartitions
    }
    if (!over) return false
    val keepOwner = if (owner.nonEmpty) owner else w.owner
    withLease(spark, store, keepOwner) {
      writeTables(store,
        tables.map { case (t, c) => TableSpec(t, readTable(spark, store, t), c) },
        targetRowsPerFile, owner = keepOwner, expectedBase = Some(snap))
      keepSnapshots(spark, store, 1)
    }
    true
  }

  /** Bounded-cadence compaction for the manifest family: when either
    * standing table has accumulated more than `maxPartitions` nightly
    * partitions, fold them — fingerprints to one union partition,
    * clusters to the resolved latest assignment — as a replace-snapshot
    * (the honest full rewrite, paid once per cadence instead of per
    * night) and reclaim the superseded partitions via [[keepSnapshots]].
    * Returns true when a compaction ran. A year of nightly appends is
    * ~365 partition dirs per table: reads stay CORRECT at any count
    * (the witness lists them all), but listing and per-file open
    * overhead creep — this is the knob that bounds them. */
  def compactManifest(
      spark: SparkSession,
      store: String,
      maxPartitions: Int = 64,
      owner: String = ""): Boolean = {
    val snap = latestSnapshot(spark, store)
    val parts = recordedWitness(spark, store, snap).files.map {
      case (t, files) => t -> partitionDirsOf(files).size
    }
    if (parts.values.forall(_ <= maxPartitions)) return false
    // `owner` defaults to the compacted snapshot's own token so the
    // replay-skip contract survives compaction: a restarted stream batch
    // must still find its owner on the latest snapshot, or it would fold
    // its delta a second time
    val keepOwner = if (owner.nonEmpty) owner else ownerOf(spark, store, snap)
    // read + replace under ONE lease (withLease is reentrant, so the
    // inner commit and retention reuse it), and pin the snapshot the
    // rewrite read as expectedBase — a writer that slips between the
    // read and the replace is refused instead of silently dropped
    withLease(spark, store, keepOwner) {
      writeTables(store, Seq(
        TableSpec(FpTable, readFingerprints(spark, store), "asset_id"),
        TableSpec(FpBlocksTable,
          readTable(spark, store, FpBlocksTable), "bk"),
        TableSpec(ClTable,
          readClusters(spark, store).withColumn("_seq", lit(0L)), "doc_id")),
        owner = keepOwner, expectedBase = Some(snap))
      keepSnapshots(spark, store, 1)
    }
    true
  }

  /** One nightly ingest: read the standing state's latest snapshot
    * (witness-verified), fingerprint ONLY `deltaAssets`, probe delta
    * fingerprints against the standing fingerprint table (new↔new ∪
    * new↔old block probes — the base is never re-fingerprinted), fold
    * the edges into the standing assignment via
    * [[graft.ops.Cluster.mergeClusters]], and APPEND the delta: the new
    * fingerprints verbatim plus only the cluster rows whose assignment
    * changed (new docs + merge-touched old docs). Chaining nights is
    * exact: the fold over any sequence of deltas is row-identical to
    * the full recompute over the union of all assets ever ingested (the
    * merge ≡ recompute contract, proven ACROSS the write/read boundary
    * by the nightly oracle). Delta ids must be NEW assets; a replay
    * under the same `owner` token is skipped idempotently.
    * Returns the updated (doc_id, cluster) assignment — the fold's own
    * merged frame, row-identical BY CONSTRUCTION to a post-commit
    * [[readClusters]] (latest-wins over base revisions ∪ changed ≡
    * merged); the next night's read exercises the witness-gated
    * round-trip, so returning the in-memory form saves one resolve
    * without weakening the proof. */
  def ingest(deltaAssets: DataFrame, store: String, owner: String = ""): DataFrame = {
    val spark = deltaAssets.sparkSession
    val snap = latestSnapshot(spark, store)
    if (owner.nonEmpty && ownerOf(spark, store, snap) == owner)
      return readClusters(spark, store) // same-owner replay: already folded
    val standingCl = readClusters(spark, store)
    val deltaFp = fingerprint(deltaAssets)
    val deltaBlocks = blockRowsOf(deltaFp)
    // probe the bk-clustered standing block table, never the standing
    // fingerprint table. With a small delta the probe goes two-tier:
    // the witness's per-file zone maps select ONLY the files whose bk
    // range admits a delta key (readTablePruned — metadata-only, no
    // footer opens), and the same keys ride the scan as a pushed IN
    // filter pruning row groups within the survivors. A big delta
    // (keys over the literal cap) falls back to the full scan, whose
    // one standing-table pass that delta size amortizes.
    val probeKeys = literalProbeKeys(deltaBlocks)
    val standingBlocks = probeKeys match {
      case Some(keys) => readTablePruned(spark, store, FpBlocksTable, keys)
      case None => readTable(spark, store, FpBlocksTable)
    }
    val pairs = pairsOfIndexed(deltaFp, standingBlocks, probeKeys)
    val merged = Cluster.mergeClusters(standingCl, pairs)
      .select("doc_id", "cluster")
    val changed = merged.join(standingCl, Seq("doc_id", "cluster"), "left_anti")
      .withColumn("_seq", lit(snap + 1))
    appendTables(store, Seq(
      TableSpec(FpTable, deltaFp, "asset_id"),
      TableSpec(FpBlocksTable, deltaBlocks, "bk"),
      TableSpec(ClTable, changed, "doc_id")), owner)
    merged
  }
}
