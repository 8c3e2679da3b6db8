package perfbench

import graft.schema.{Field, FieldType, Metric, Org}
import graft.sources.{FsSource, KeyMapper, NearlineTableDesc, SourceSet}
import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.expressions.XXH64
import org.apache.spark.sql.functions._

import java.nio.file.{Files, Path}

/** Size of one tenant history: every tenant's `readings` metric holds
  * `days` daily archive partitions (the older half JSON with aliased
  * columns, the newer half Parquet) on a grid of `archiveStepMs`, then
  * `windows` nearline windows of `windowMs` on the finer `nearlineStepMs`
  * grid. The last `overlapWindows` windows of the archive period are also
  * written to the archives, so the nearline cutoff must drop them. */
final case class Shape(
    tenants: Int,
    days: Int,
    archiveStepMs: Long,
    windows: Int,
    windowMs: Long,
    nearlineStepMs: Long,
    overlapWindows: Int) {
  val t0: Long = 1704067200000L // 2024-01-01T00:00:00Z
  val dayMs: Long = 86400000L
  val archiveEnd: Long = t0 + days * dayMs
  val nearlineStart: Long = archiveEnd - overlapWindows * windowMs
  val end: Long = nearlineStart + windows * windowMs
  require(dayMs % archiveStepMs == 0 && windowMs % nearlineStepMs == 0)
  require((archiveEnd - nearlineStart) % archiveStepMs == 0)
  def archiveRowsPerTenant: Long = (archiveEnd - t0) / archiveStepMs
  def nearlineRowsPerTenant: Long = (end - nearlineStart) / nearlineStepMs
}

/** The logical content of every tenant's metric as closed-form functions
  * of (seed, tenant, timestamp); the writer and the expectations both use
  * them, so a query answer can be checked without reading the data back. */
final class TenantModel(val seed: Long, val shape: Shape) {
  val Sites = 8

  def org(k: Int): String = s"t$k"
  def metricId(k: Int): String = s"m$k"

  /** Spark's `xxhash64(seed, k, ts)`, computed on the driver. */
  def hash(k: Int, ts: Long): Long = {
    XXH64.hashLong(ts, XXH64.hashInt(k, XXH64.hashLong(seed, 42L)))
  }
  def value(k: Int, ts: Long): Long = java.lang.Math.floorMod(hash(k, ts), 1000L)
  def site(k: Int, ts: Long): Int = ((hash(k, ts) >>> 32) % Sites).toInt

  val metric: Metric = Metric("readings", "readings",
    Seq(Field("site", FieldType.STRING, aliases = Seq("loc")),
      Field("v", FieldType.LONG, aliases = Seq("value"))),
    tableAliases = Seq("reading"))

  def orgs: Seq[Org] = (0 until shape.tenants).map(k =>
    Org(org(k), Seq(metric.copy(canonicalId = metricId(k)))))

  /** Timestamps of the logical rows of one tenant inside [lo, hi). */
  def timestamps(lo: Long, hi: Long): Iterator[Long] = {
    def grid(from: Long, until: Long, step: Long): Iterator[Long] = {
      val a = math.max(from, lo); val b = math.min(until, hi)
      if (a >= b) Iterator.empty
      else {
        val first = from + ((a - from + step - 1) / step) * step
        Iterator.iterate(first)(_ + step).takeWhile(_ < b)
      }
    }
    grid(shape.t0, shape.nearlineStart, shape.archiveStepMs) ++
      grid(shape.nearlineStart, shape.end, shape.nearlineStepMs)
  }

  /** Order-independent digest of one answer row (timestamp, site, v). */
  def rowDigest(ts: Long, site: String, v: Long): Long =
    (ts / 1000) * 1000 + v + site.stripPrefix("s").toLong * 7919L

  def expectedDigest(k: Int, lo: Long, hi: Long): (Long, Long) =
    timestamps(lo, hi).foldLeft((0L, 0L)) { case ((n, d), ts) =>
      (n + 1, d + rowDigest(ts, s"s${site(k, ts)}", value(k, ts)))
    }
}

/** Written tenant fixture: where each source kind lives, and how many
  * data files the write produced. */
final case class TenantFixture(sources: SourceSet, files: Int)

object TenantFixture {

  /** Write every tenant's archives and the shared nearline windows under
    * `dir` with three Spark writes. File and partition counts depend on the
    * shape alone: one file per (tenant, day) and one per window. */
  def write(spark: SparkSession, model: TenantModel, dir: Path): TenantFixture = {
    val s = model.shape
    val jsonBase = dir.resolve("archive-json"); val parquetBase = dir.resolve("archive-parquet")
    val nearBase = dir.resolve("nearline")

    // exact integer division for the non-negative longs used here
    def idiv(c: Column, n: Long) = ((c - pmod(c, lit(n))) / n).cast("long")
    def hashCol(k: Column, ts: Column) = xxhash64(lit(model.seed), k, ts)
    def valueCol(k: Column, ts: Column) = pmod(hashCol(k, ts), lit(1000L))
    def siteCol(k: Column, ts: Column) = concat(lit("s"),
      (shiftrightunsigned(hashCol(k, ts), 32) % model.Sites).cast("string"))

    // archives: one row per (tenant, archive grid point), JSON days first
    val perTenant = s.archiveRowsPerTenant
    val archive = spark.range(s.tenants * perTenant)
      .select(idiv(col("id"), perTenant).cast("int").as("k"),
        (lit(s.t0) + pmod(col("id"), lit(perTenant)) * s.archiveStepMs).as("timestamp"))
      .select(col("k"), col("timestamp"),
        concat(lit("t"), col("k").cast("string")).as("companykey"),
        concat(lit("m"), col("k").cast("string")).as("metrictype"),
        idiv(col("timestamp") - s.t0, s.dayMs).as("day"),
        date_format(timestamp_millis(col("timestamp")), "yyyy-MM-dd").as("date"),
        siteCol(col("k"), col("timestamp")).as("site"),
        valueCol(col("k"), col("timestamp")).as("v"))
      .withColumn("org", col("companykey"))
      .repartition(col("org"), col("date"))
    val jsonDays = s.days / 2
    archive.filter(col("day") < jsonDays)
      .select(col("org"), col("date"), col("companykey"), col("metrictype"), col("timestamp"),
        col("site").as("loc"), col("v").as("value"))
      .write.partitionBy("org", "date").json(jsonBase.resolve("staging").toString)
    archive.filter(col("day") >= jsonDays)
      .select("org", "date", "companykey", "metrictype", "timestamp", "site", "v")
      .write.partitionBy("org", "date").parquet(parquetBase.resolve("staging").toString)
    // reference layout <base>/0/<format>/<org>/<metric>/date=…
    for ((base, fmt) <- Seq(jsonBase -> "json", parquetBase -> "parquet"); k <- 0 until s.tenants) {
      val to = base.resolve(s"0/$fmt/${model.org(k)}/${model.metricId(k)}")
      Files.createDirectories(to.getParent)
      Files.move(base.resolve(s"staging/org=${model.org(k)}"), to)
    }

    // nearline: one table per window, every tenant's items in each
    val perTenantNl = s.nearlineRowsPerTenant
    val mapper = KeyMapper.Concat
    spark.range(s.tenants * perTenantNl)
      .select(idiv(col("id"), perTenantNl).cast("int").as("k"),
        (lit(s.nearlineStart) + pmod(col("id"), lit(perTenantNl)) * s.nearlineStepMs).as("ts"))
      .select(
        idiv(col("ts") - s.nearlineStart, s.windowMs).as("window"),
        mapper.partitionKeyCol(concat(lit("t"), col("k").cast("string")),
          concat(lit("m"), col("k").cast("string"))).as("partition"),
        col("ts").cast("string").as("sort"),
        array(lit("w1")).as("ids"),
        map(lit("w1"), siteCol(col("k"), col("ts"))).as("site"),
        map(lit("w1"), valueCol(col("k"), col("ts")).cast("string")).as("v"))
      .repartition(col("window"))
      .write.partitionBy("window").parquet(nearBase.toString)
    val nearline = (0 until s.windows).map { w =>
      val start = s.nearlineStart + w * s.windowMs
      NearlineTableDesc(s"readings_${start}_${start + s.windowMs}",
        nearBase.resolve(s"window=$w").toString, start, start + s.windowMs)
    }
    val sources = SourceSet(
      fs = Seq(FsSource("json", jsonBase.toString), FsSource("parquet", parquetBase.toString)),
      nearline = nearline)
    val dataFiles = Files.walk(dir).filter(p =>
      Files.isRegularFile(p) && p.getFileName.toString.startsWith("part-")).count().toInt
    TenantFixture(sources, dataFiles)
  }
}
