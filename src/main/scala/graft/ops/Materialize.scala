package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The "build the index once" step shared by the dedup/similarity
  * operators: write an intermediate table (signatures, buckets, token
  * sets) to parquet and read it back.
  *
  * Why parquet and not `localCheckpoint`/`persist`:
  *   - lineage is truncated *durably* — on a real cluster the write goes
  *     to the shared FS, so executor loss doesn't kill the job the way
  *     lost localCheckpoint blocks do;
  *   - zero executor-memory footprint after the write — checkpoint blocks
  *     otherwise accumulate across a query battery and amplify GC/memory
  *     pressure (the round-1 driver bench degraded 10-50× on the queries
  *     *after* the first checkpoint-heavy one for exactly this reason);
  *   - both sides of a self-join read the same files instead of
  *     recomputing the signature expression tree through the join lineage
  *     (a >100× slowdown observed with naive lineage).
  *
  * Where the indexes land: `spark.graft.indexDir` when set — on a real
  * cluster this is a shared-FS/lake URI every executor can reach (the
  * driver-local default would be invisible to executors there) — else a
  * driver-local temp directory (right for local[*] runs). Both paths go
  * through the Hadoop FileSystem API, so any supported scheme works.
  *
  * Lifecycle: every index directory is registered in a live set;
  * [[dropAll]] deletes them once the consuming query's terminal action
  * has run. Query batteries (Bench/Verify) and any long-lived serving
  * process call it between statements — `deleteOnExit` alone would leak
  * one directory per dedup/ANN query onto local disk for the life of the
  * JVM (the round-1 memory-accumulation lesson, one level down the
  * storage hierarchy). At 100 TB `dropAll` is the table-retention policy
  * for the lake prefix.
  */
object Materialize {

  /** Session conf naming the shared index root (e.g. an object-store or
    * shared-FS prefix). Unset/empty → driver-local temp dir. */
  val IndexDirConf = "spark.graft.indexDir"

  /** Session conf gating the content-addressed index cache ("true"
    * default). When on, [[index]] keys each materialization by a
    * fingerprint of its canonicalized logical plan, so two queries (or
    * two stages of one query battery) asking for the SAME index table —
    * the minhash signature/verified-pair table every cluster query
    * starts from, the all-pairs truth set both `dedup_allpairs` and
    * `dedup_recall` need — build it once and share the parquet. This is
    * the lake behavior: an index over a 100 TB corpus is built per
    * corpus version, not per consumer query. */
  val IndexCacheConf = "spark.graft.indexCache"

  /** Bounded retention for cached index tables: beyond this many
    * entries the least-recently-used index is released back to the
    * scratch pool and reaped by the next [[dropAll]]. Bounds lake/disk
    * growth over an arbitrarily long query battery.
    *
    * Sized ABOVE the full battery's concurrent working set (~170 distinct
    * index plans as of round 11): the r11 cache telemetry caught the
    * 48-entry cap thrashing — every miss evicted a still-needed entry
    * (122 misses = 122 evictions per battery), which is how
    * `pair_graph_rank` silently lost its shared minhash-sig index in r10
    * (1.98 → 3.63 s). Index tables are skinny (fingerprints, pairs,
    * signatures — MBs each at sf0.1), so 256 entries is bounded disk,
    * not unbounded growth; override with -Dgraft.indexCache.maxEntries
    * for constrained deployments. */
  val CacheMaxEntries: Int =
    sys.props.getOrElse("graft.indexCache.maxEntries", "256").toInt

  private lazy val localRoot: String = {
    val p = java.nio.file.Files.createTempDirectory("graft-index")
    p.toFile.deleteOnExit()
    p.toString
  }

  private def rootFor(spark: SparkSession): String =
    spark.conf.getOption(IndexDirConf).filter(_.nonEmpty).getOrElse(localRoot)

  private val live =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  private val nextId = new java.util.concurrent.atomic.AtomicLong(0)

  /** A fresh per-call directory under the session's index root, registered
    * for [[dropAll]]. Uniqueness = JVM-wide counter + nanoTime, so
    * concurrent queries (and successive JVMs sharing a lake prefix) never
    * clobber each other. */
  private def newDir(spark: SparkSession, tag: String): String = {
    val dir = s"${rootFor(spark)}/$tag${nextId.incrementAndGet()}-${System.nanoTime().toHexString}"
    live.add(dir)
    dir
  }

  // ------------------------------------------------- content-addressed cache
  // key = md5(tag + canonicalized logical plan + schema). Canonicalization
  // normalizes expression ids, so "the same computation" keys identically
  // across separately-built DataFrames; the full per-node simpleString
  // (maxFields = MaxValue) sidesteps treeString's 25-field truncation, and
  // semanticHash is folded in as a second independent witness. Values are
  // directories already registered in `live`; membership in this map is
  // what shields them from [[dropAll]]. Access-ordered for LRU eviction.
  private val cache = java.util.Collections.synchronizedMap(
    new java.util.LinkedHashMap[String, String](16, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[String, String]): Boolean = {
        val evict = size() > CacheMaxEntries // evicted dir stays in `live` → reaped by dropAll
        if (evict) evictCount.incrementAndGet()
        evict
      }
    })

  private val hitCount = new java.util.concurrent.atomic.AtomicLong(0)
  private val missCount = new java.util.concurrent.atomic.AtomicLong(0)
  private val evictCount = new java.util.concurrent.atomic.AtomicLong(0)

  /** (hits, misses, LRU evictions) since JVM start — the bench records
    * per-query DELTAS of this so a silent cache-share loss (an eviction
    * between two queries that build the same index) is visible in the
    * committed diagnostics instead of re-diagnosed by archaeology. */
  def cacheTelemetry: (Long, Long, Long) =
    (hitCount.get(), missCount.get(), evictCount.get())

  private def cacheEnabled(spark: SparkSession): Boolean =
    spark.conf.getOption(IndexCacheConf).forall(_.equalsIgnoreCase("true"))

  private def contentKey(df: DataFrame, tag: String): String = {
    val plan = df.queryExecution.analyzed.canonicalized
    val full = plan.collect { case n => n.simpleString(Int.MaxValue) }
      .mkString("\n")
    val md = java.security.MessageDigest.getInstance("MD5")
    val bytes = md.digest(
      (tag + "\u0000" + full + "\u0000" + df.semanticHash() + "\u0000" +
        df.schema.catalogString + "\u0000" + inputDataVersion(df))
        .getBytes("UTF-8"))
    bytes.map("%02x".format(_)).mkString
  }

  /** Data-version witness folded into [[contentKey]]: the source
    * relations' file listing plus, when cheap to obtain, per-file size
    * and modification time. Without it, a long-lived JVM whose source
    * files are overwritten or appended between queries would silently be
    * served the STALE cached index for the same logical plan. Paths alone
    * catch most mutation (parquet writers emit fresh part-file names per
    * commit); the size+mtime stat pass is capped so a million-file lake
    * table doesn't pay a million namenode RPCs per index call — beyond
    * the cap the sorted path list (with its count) is the witness.
    *
    * Standing-state bridge: files living under a committed
    * [[StandingState]] store are versioned by the store's WITNESS DIGEST
    * instead of per-file stats — one registry lookup per file, zero
    * FileSystem RPCs, and still a complete witness (any commit or
    * retention on the store changes its digest, so a nightly-fed index
    * never goes stale). Under the append layout a standing table's
    * partition count grows per night; without the bridge every cache
    * probe would pay a growing stat sweep. */
  private def inputDataVersion(df: DataFrame): String = {
    val files =
      try df.inputFiles.sorted
      catch { case scala.util.control.NonFatal(_) => Array.empty[String] }
    val (witnessed, rest) = files.partition(f => StandingState.witnessedVersion(f).isDefined)
    if (witnessed.nonEmpty) witnessTrustCount.addAndGet(witnessed.length.toLong)
    val wtags = witnessed.flatMap(StandingState.witnessedVersion)
      .distinct.sorted.mkString(",")
    val StatCap = 256
    val stats =
      if (rest.isEmpty || rest.length > StatCap) ""
      else try {
        val hconf = df.sparkSession.sessionState.newHadoopConf()
        rest.map { f =>
          val p = new org.apache.hadoop.fs.Path(f)
          statCount.incrementAndGet()
          val st = p.getFileSystem(hconf).getFileStatus(p)
          s"${st.getLen}:${st.getModificationTime}"
        }.mkString(",")
      } catch { case _: java.io.IOException => "" }
    s"n=${files.length};${files.mkString(",")};$stats;w=$wtags"
  }

  private val statCount = new java.util.concurrent.atomic.AtomicLong(0)
  private val witnessTrustCount = new java.util.concurrent.atomic.AtomicLong(0)

  /** (per-file getFileStatus calls paid, files versioned via a standing
    * witness digest instead) since JVM start — the witness-bridge
    * telemetry (cache hit/miss behavior must be unchanged; only the
    * listing/stat cost moves). */
  def bridgeTelemetry: (Long, Long) = (statCount.get(), witnessTrustCount.get())

  /** Materialize `df` as a parquet index table and return a fresh scan of
    * it. `tag` names the index for debuggability; the directory is unique
    * per call, so concurrent queries never clobber each other. With the
    * content-addressed cache on (default), a logically-identical `df`
    * materialized earlier in this JVM is reused instead of rewritten —
    * deterministic operator plans (everything here is md5-seeded, no
    * rand()) make the reuse exact. The scan reads with `df`'s own schema
    * (a cached dir was written from a plan with the same key, hence the
    * same schema), so returning it starts no schema-inference job. */
  def index(df: DataFrame, tag: String): DataFrame = {
    val spark = df.sparkSession
    def scan(dir: String) = spark.read.schema(df.schema).parquet(dir)
    if (!cacheEnabled(spark)) {
      val dir = newDir(spark, tag)
      df.write.mode("overwrite").parquet(dir)
      return scan(dir)
    }
    val key = contentKey(df, tag)
    val cached = cache.get(key)
    if (cached != null && exists(spark, cached)) {
      hitCount.incrementAndGet()
      return scan(cached)
    }
    missCount.incrementAndGet()
    val dir = newDir(spark, tag)
    df.write.mode("overwrite").parquet(dir)
    cache.put(key, dir)
    scan(dir)
  }

  private def exists(spark: SparkSession, dir: String): Boolean =
    try {
      val p = new org.apache.hadoop.fs.Path(dir)
      p.getFileSystem(spark.sessionState.newHadoopConf()).exists(p)
    } catch { case _: java.io.IOException => false }

  /** Ensure a heavy map stage (per-shingle md5 loops, signature
    * computation) gets at least the session's core parallelism. A parquet
    * file is split by byte range but never below row-group granularity, so
    * a single-row-group file — however large — feeds exactly ONE task and
    * the whole map stage runs serially. Repartition only when the input's
    * parallelism is actually short: on a many-file / many-row-group lake
    * layout this is a no-op, so at 100 TB no extra shuffle happens; when
    * it does fire, it moves the raw input once to unlock a cores-wide
    * compute stage that dominates it. */
  def spread(df: DataFrame): DataFrame = {
    val target = df.sparkSession.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions >= target) df else df.repartition(target)
  }

  /** A fresh scratch directory under the index root, registered for
    * [[dropAll]] like any index — for operators that manage their own
    * write (e.g. [[Layout.compact]]'s output table). */
  def scratchDir(tag: String): String =
    newDir(SparkSession.active, tag)

  /** Number of index directories currently registered. */
  def liveCount: Int = live.size()

  /** Delete every SCRATCH index directory created so far — directories
    * currently held by the content-addressed cache survive (they are the
    * reusable per-corpus indexes; the LRU cap bounds their number).
    * Only call after the terminal action of every query whose plan reads
    * the scratch dirs — the returned DataFrames scan these files lazily. */
  def dropAll(): Unit = {
    val hconf = SparkSession.getActiveSession
      .map(_.sessionState.newHadoopConf())
      .getOrElse(new org.apache.hadoop.conf.Configuration())
    val retained = new java.util.HashSet[String](cache.values())
    val it = live.iterator()
    while (it.hasNext) {
      val dir = it.next()
      if (!retained.contains(dir)) {
        val p = new org.apache.hadoop.fs.Path(dir)
        try p.getFileSystem(hconf).delete(p, true)
        catch { case _: java.io.IOException => () } // best-effort retention
        it.remove()
      }
    }
  }

  /** Release the content-addressed cache and delete everything —
    * end-of-battery / end-of-process cleanup. */
  def clearCache(): Unit = {
    cache.clear()
    dropAll()
  }
}
