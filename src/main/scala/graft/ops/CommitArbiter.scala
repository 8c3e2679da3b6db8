package graft.ops

/** The commit arbiter behind every standing-state store: one
  * conditional put claims [[StandingState]]'s writer lease, one claims
  * each snapshot number before its publish. Everything else (immutable
  * data partitions, witness verification, base-latest checks) already
  * tolerates non-atomic filesystems, because files are only ever
  * referenced by a witness that commits after them.
  *
  * A store's arbiter is EXTERNAL when registered or configured
  * (`spark.graft.state.arbiter`) — required on object stores, where
  * "rename" is copy-then-delete and create-no-overwrite is
  * check-then-create (the reference's own archive tier is S3 via
  * hadoop-aws, `SubTableScanBuilder.java:106-112`); Iceberg's catalog
  * swap reduced to its minimal primitive. Otherwise it is the store's
  * own [[FsArbiter]], on filesystems whose rename is atomic.
  *
  * Contract: `putIfAbsent` must be ATOMIC (exactly one concurrent
  * caller wins), `deleteIf` must be an atomic compare-and-delete.
  * DynamoDB conditional writes, etcd transactions, or any RDBMS unique
  * insert satisfy this; [[graft.sources.dsv2.DynamoArbiter]] is the
  * wire implementation over public DynamoDB conditional-put JSON.
  * [[FsArbiter]] holds it only as far as the filesystem does. */
trait CommitArbiter {
  /** Atomically create `key → body` iff `key` is absent. True iff THIS
    * call created it. */
  def putIfAbsent(key: String, body: String): Boolean

  /** Current body of `key`, if present. */
  def get(key: String): Option[String]

  /** Atomically delete `key` iff its current body equals `expect`.
    * True iff this call deleted it. */
  def deleteIf(key: String, expect: String): Boolean

  /** Unconditional delete — the breakLease analog, operator-invoked. */
  def delete(key: String): Unit
}

object CommitArbiter {
  private val registry =
    new java.util.concurrent.ConcurrentHashMap[String, CommitArbiter]()

  /** AUTHORITY-QUALIFIED store identity — the key every arbiter-facing
    * structure (this registry, [[graft.ops.StandingState]]'s lease and
    * snapshot-claim keys, the witness-parse cache) uses. Rendered
    * `scheme://authority/path` so `s3a://bucket-a/state` and
    * `s3a://bucket-b/state` NEVER alias at a shared arbiter table
    * (path-only keys would let a same-owner retake compare-and-delete
    * the OTHER store's live lease). A schemeless spelling defaults to
    * `file` with empty authority, so `/tmp/x` and `file:/tmp/x` — the
    * local respellings of one store — still agree; any store that
    * actually NEEDS an external arbiter carries an explicit object-store
    * scheme and is keyed exactly. */
  def storeKey(store: String): String = {
    val u = new org.apache.hadoop.fs.Path(store).toUri
    val scheme = Option(u.getScheme).getOrElse("file")
    val auth = Option(u.getAuthority).getOrElse("")
    val path = Option(u.getPath).filter(_.nonEmpty).getOrElse(store)
    s"$scheme://$auth$path"
  }

  /** The writer-lease key of `store`. Keys are AUTHORITY-QUALIFIED
    * ([[storeKey]]) so same-path stores in different buckets can share
    * one arbiter table without colliding — a path-only key would let
    * `s3a://bucket-a/x`'s retake compare-and-delete `s3a://bucket-b/x`'s
    * LIVE lease. */
  def leaseKey(store: String): String = s"lease:${storeKey(store)}"

  /** The claim key of one snapshot (`snapName`, e.g. `snap00001`) of
    * `store`. */
  def claimKey(store: String, snapName: String): String =
    s"snap:${storeKey(store)}:$snapName"

  /** Register an arbiter for one store root (keyed by [[storeKey]] —
    * scheme+authority+path, so same-path stores in different buckets
    * resolve to their OWN arbiters). Programmatic twin of the
    * `spark.graft.state.arbiter` conf. */
  def register(store: String, arbiter: CommitArbiter): Unit =
    registry.put(storeKey(store), arbiter)

  def unregister(store: String): Unit = registry.remove(storeKey(store))

  /** The EXTERNAL arbiter governing `store`, if any: an explicit
    * registration wins, else the session-wide `spark.graft.state.arbiter`
    * spec (`memory:<name>` for the process-local map — tests and
    * single-JVM demos — or a `dynamo://host:port/Table` / `dynamos://…`
    * endpoint for the conditional-put wire). None means the store's own
    * [[FsArbiter]] arbitrates. */
  def forStore(
      spark: org.apache.spark.sql.SparkSession,
      store: String): Option[CommitArbiter] =
    Option(registry.get(storeKey(store))).orElse(
      spark.conf.getOption("spark.graft.state.arbiter").map(resolve))

  private val resolved =
    new java.util.concurrent.ConcurrentHashMap[String, CommitArbiter]()

  /** Memoized per spec: forStore resolves on every lease/claim call, so
    * a wire-backed arbiter must not rebuild its HTTP client each time. */
  def resolve(spec: String): CommitArbiter =
    resolved.computeIfAbsent(spec, s =>
      if (s.startsWith("memory:")) InMemoryArbiter.named(s.stripPrefix("memory:"))
      else if (s.startsWith("dynamo://") || s.startsWith("dynamos://"))
        new graft.sources.dsv2.DynamoArbiter(s)
      else throw new IllegalArgumentException(
        s"unknown commit-arbiter spec '$s' — expected memory:<name> or " +
          "dynamo[s]://host[:port]/Table"))
}

/** Process-local conditional-put map — the spec/demo arbiter. Named so
  * independent "writers" (threads, sessions) in one JVM meet at the
  * same map, mirroring how independent drivers meet at one DynamoDB
  * table. Atomicity comes from ConcurrentHashMap's per-key compute
  * locks — a real exactly-one-winner `putIfAbsent`, unlike the
  * check-then-create of Hadoop's LocalFileSystem. */
final class InMemoryArbiter private () extends CommitArbiter {
  private val kv = new java.util.concurrent.ConcurrentHashMap[String, String]()
  override def putIfAbsent(key: String, body: String): Boolean =
    kv.putIfAbsent(key, body) == null
  override def get(key: String): Option[String] = Option(kv.get(key))
  override def deleteIf(key: String, expect: String): Boolean =
    kv.remove(key, expect)
  override def delete(key: String): Unit = kv.remove(key)
}

object InMemoryArbiter {
  private val instances =
    new java.util.concurrent.ConcurrentHashMap[String, InMemoryArbiter]()
  def named(name: String): InMemoryArbiter =
    instances.computeIfAbsent(name, _ => new InMemoryArbiter())
}

/** The filesystem's own commit arbiter for ONE store: the lease is the
  * file `<store>/_LEASE` (owner, nonce, acquisition epoch millis) and
  * each snapshot claim `<store>/_CLAIM-snap<n>`, names the snapshot
  * listing and the orphan sweep never touch. `putIfAbsent` is a
  * create-exclusive write: only "already exists" means refused, any
  * other I/O error (permissions, the store path is a file) is rethrown
  * as itself. `get` reads the file; a record it cannot read (absent, or
  * torn by a racing writer so its checksum fails) is None, which every
  * protocol step treats as "not mine". `deleteIf` is read-compare-delete.
  *
  * Exclusivity is only as atomic as the filesystem's create: HDFS's is,
  * Hadoop's LocalFileSystem is check-then-create, and `deleteIf` is not
  * a CAS anywhere. So on local disk the records narrow the interleaving
  * window rather than close it, and the witness-directory rename stays
  * the arbiter of record — which is why [[StandingState]] uses this
  * arbiter only on filesystems with atomic rename. */
final class FsArbiter(fs: org.apache.hadoop.fs.FileSystem, store: String)
    extends CommitArbiter {
  import FsArbiter._

  private val leaseKey = CommitArbiter.leaseKey(store)
  private val claimPrefix = CommitArbiter.claimKey(store, "")

  private def pathOf(key: String): org.apache.hadoop.fs.Path =
    if (key == leaseKey) new org.apache.hadoop.fs.Path(s"$store/$LeaseFile")
    else if (key.startsWith(claimPrefix))
      new org.apache.hadoop.fs.Path(s"$store/$ClaimPrefix${key.stripPrefix(claimPrefix)}")
    else throw new IllegalArgumentException(
      s"arbiter key '$key' does not belong to store $store")

  override def putIfAbsent(key: String, body: String): Boolean =
    try {
      val os = fs.create(pathOf(key), false)
      try os.write(body.getBytes("UTF-8")) finally os.close()
      true
    } catch {
      case _: org.apache.hadoop.fs.FileAlreadyExistsException => false
      case _: java.nio.file.FileAlreadyExistsException => false
      // raw create-exclusive refusals surface as bare IOException on
      // some Hadoop filesystems — match the documented message shape,
      // rethrow everything else (a permissions error is not a lease)
      case e: java.io.IOException
          if Option(e.getMessage).exists(_.toLowerCase.contains("already exists")) => false
    }

  override def get(key: String): Option[String] =
    try {
      val is = fs.open(pathOf(key))
      try Some(scala.io.Source.fromInputStream(is, "UTF-8").mkString)
      finally is.close()
    } catch { case _: java.io.IOException => None }

  override def deleteIf(key: String, expect: String): Boolean =
    get(key).contains(expect) && fs.delete(pathOf(key), false)

  override def delete(key: String): Unit = { fs.delete(pathOf(key), false); () }
}

object FsArbiter {
  private val LeaseFile = "_LEASE"
  private val ClaimPrefix = "_CLAIM-"

  /** `store`'s own arbiter, on the filesystem the session resolves for it. */
  def apply(spark: org.apache.spark.sql.SparkSession, store: String): FsArbiter =
    new FsArbiter(
      new org.apache.hadoop.fs.Path(store).getFileSystem(spark.sessionState.newHadoopConf()),
      store)
}
