package perfbench

import graft.ops.{Multimodal, PerfbenchOpsAccess, StandingState}
import org.apache.spark.sql.{DataFrame, SparkSession}

import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._
import scala.util.Random

/** Size of the nightly fold: a store bootstrapped with `base` assets, then
  * one night per op, each ingesting `delta` new assets of which every
  * `plantEvery`-th id is a planted copy of an earlier asset. The manifest
  * is compacted when a table holds more than `maxPartitions` partition
  * dirs, so every `maxPartitions`-th night compacts; the other nights
  * keep the newest `keepSnapshots` snapshots. */
final case class FoldShape(
    base: Int, delta: Int, plantEvery: Int, payloadChars: Int, maxPartitions: Int, keepSnapshots: Int)

/** The asset corpus as closed-form functions of (seed, asset id): asset
  * `id` is either an original with a random payload, or a planted copy of
  * an earlier asset with that asset's payload byte for byte. Random
  * payloads have independent 64-bit fingerprints, so the only near
  * duplicates are the planted copies and the expected clustering is
  * exact: each family of two or more assets is one cluster, labelled with
  * its smallest id (the original); singletons have no cluster row. */
final class AssetModel(val seed: Long, val shape: FoldShape) {
  private def rnd(id: Long) = new Random(seed * 1000003L + id * 7919L + 17L)

  def planted(id: Long): Boolean = id > 0 && id % shape.plantEvery == shape.plantEvery - 1

  /** The asset a planted copy was taken from (any earlier one). */
  def copiedFrom(id: Long): Long = rnd(id).nextLong(id)

  def rootOf(id: Long): Long = if (planted(id)) rootOf(copiedFrom(id)) else id

  def payload(id: Long): String = {
    val r = rnd(rootOf(id) + 1000000007L)
    Array.fill(shape.payloadChars)(('a' + r.nextInt(26)).toChar).mkString
  }

  /** Asset ids ingested by night `n` (nights count from 0). */
  def nightIds(n: Int): Range = {
    val first = shape.base + n * shape.delta
    first until first + shape.delta
  }

  def assets(spark: SparkSession, ids: Range): DataFrame = {
    import spark.implicits._
    Multimodal.assetsFromText(ids.map(i => (i.toLong, payload(i))).toDF("id", "txt"), "id", "txt")
  }

  /** Expected doc id -> cluster once every asset below `until` is in. */
  def expectedClusters(until: Int): Map[Long, Long] = {
    val roots = (0L until until).map(id => id -> rootOf(id))
    val sizes = roots.groupMapReduce(_._2)(_ => 1)(_ + _)
    roots.filter { case (_, r) => sizes(r) > 1 }.toMap
  }
}

/** What one night wrote, and what the store holds after it. */
final case class NightBytes(written: Long, deltaPayload: Long, partitionDirs: Int, storeBytes: Long, liveBytes: Long)

/** The nightly fold (ROADMAP direction 2) as the traced runs measure it:
  * a writer bootstraps a store and runs nights on it. Each night costs
  * about ten seconds whatever the store size (it runs about 110 Spark
  * jobs), so the fold has no timed closed loop of its own; see the
  * benchmark's README. */
object NightlyFold {
  val shape = FoldShape(base = 200, delta = 10, plantEvery = 4, payloadChars = 160,
    maxPartitions = 2, keepSnapshots = 2)
  /** Untraced nights before the traced ones, and traced nights. With
    * `maxPartitions = 2` every second night compacts (the second after
    * the bootstrap first), so the two traced nights are one compacting
    * and one plain night. */
  val warmupNights = 1
  val tracedNights = 2
}

/** A store under `dir`, bootstrapped from the seed; client 0's `i`-th op
  * is night `i`. */
final class FoldDeployment(spark: SparkSession, val model: AssetModel, dir: Path) extends Deployment {
  private val root = dir.resolve("store")
  val store: String = root.toString
  StandingState.bootstrap(model.assets(spark, 0 until model.shape.base), store)

  val tracer = new Tracer
  private val traced = new java.util.concurrent.ConcurrentLinkedQueue[(Long, TracedNight)]()

  /** Data files of the store with their sizes. */
  private def dataFiles(): Map[String, Long] =
    Files.walk(root.resolve("data")).iterator().asScala.filter(Files.isRegularFile(_))
      .map(p => p.toString -> Files.size(p)).toMap

  def files: Int = dataFiles().size

  /** Night `n`: ingest its delta, the bounded-cadence compaction (or, on a
    * plain night, snapshot retention), then the witness-verified read-back
    * checked against the closed-form clustering. Each step is a span when
    * a statement root is open. Returns (correct, compacted). */
  private def night(n: Int): (Boolean, Boolean) = {
    val ids = model.nightIds(n)
    tracer.span("ops.ingest")(StandingState.ingest(model.assets(spark, ids), store, owner = s"night-$n"))
    val compacted = tracer.span("ops.compact")(
      StandingState.compactManifest(spark, store, model.shape.maxPartitions))
    if (!compacted)
      tracer.span("ops.keep")(StandingState.keepSnapshots(spark, store, model.shape.keepSnapshots))
    val rows = tracer.span("ops.read_clusters")(StandingState.readClusters(spark, store).collect())
    val got = rows.iterator.map(r => r.getLong(0) -> r.getLong(1)).toMap
    (rows.length == got.size && got == model.expectedClusters(ids.end), compacted)
  }

  def op(c: Int, i: Int): Boolean = night(i)._1

  def tracedOp(c: Int, i: Int, id: Long): (Boolean, Long) = {
    val before = dataFiles()
    val sc = spark.sparkContext
    sc.setLocalProperty(EngineProbe.StmtProperty, id.toString)
    val e0 = System.currentTimeMillis(); val t0 = System.nanoTime()
    val (ok, compacted) = try tracer.root("night", id)(night(i))
      finally sc.setLocalProperty(EngineProbe.StmtProperty, null)
    val ns = System.nanoTime() - t0; val e1 = System.currentTimeMillis()
    val after = dataFiles()
    val written = after.iterator.collect { case (p, b) if !before.get(p).contains(b) => b }.sum
    val bytes = NightBytes(written, model.nightIds(i).map(model.payload(_).length.toLong).sum,
      after.keys.map(p => java.nio.file.Paths.get(p).getParent).toSet.size, after.values.sum,
      PerfbenchOpsAccess.liveBytes(spark, store))
    traced.add(id -> TracedNight(e0, e1, compacted, bytes))
    (ok, ns)
  }

  def layers(probe: EngineProbe, cores: Int): Seq[(String, Double)] = {
    val recs = traced.asScala.toSeq
    val n = math.max(1, recs.size).toDouble
    val self = tracer.selfNanos.withDefaultValue(0L)
    val compacting = recs.count(_._2.compacted)
    val engine = EngineProbe.stats(probe, recs.map { case (id, t) => (id, t.e0, t.e1) }, cores)
    val b = recs.map(_._2.bytes)
    Seq(
      "ops.ingest_ms" -> self("ops.ingest") / 1e6 / n,
      "ops.jobs_per_night" -> engine("engine.jobs_per_stmt"),
      "ops.driver_gap_ms" -> engine("engine.driver_gap_ms"),
      "ops.compact_ms" -> compactSpans(recs).sum / 1e6 / math.max(1, compacting),
      "ops.compactions" -> compacting.toDouble,
      "ops.read_clusters_ms" -> self("ops.read_clusters") / 1e6 / n,
      "ops.bytes_written_per_delta_byte" -> b.map(_.written).sum.toDouble / math.max(1L, b.map(_.deltaPayload).sum),
      "ops.partition_dirs" -> b.map(_.partitionDirs).sum / n,
      "ops.store_bytes_per_live_byte" -> b.map(_.storeBytes).sum.toDouble / math.max(1L, b.map(_.liveBytes).sum)
    )
  }

  /** Durations of the compaction steps that compacted. */
  private def compactSpans(recs: Seq[(Long, TracedNight)]): Seq[Long] = {
    val compacted = recs.collect { case (id, t) if t.compacted => id }.toSet
    tracer.all.filter(s => s.name == "ops.compact" && compacted(s.stmt)).map(_.durNs)
  }

  def close(): Unit = ()
}

/** One traced night: its execute window (epoch ms), whether it compacted,
  * and its bytes. */
final case class TracedNight(e0: Long, e1: Long, compacted: Boolean, bytes: NightBytes)
