package graft.ops

import graft.SparkFixture
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** Round-13 pins: DELTA-SIZED standing-state writes (snapshot store —
  * appends inherit base partitions by reference, nothing standing is
  * rewritten), the atomic commit + writer lease, bounded retention, the
  * persisted ANN index with its drift gate, the witness-digest cache
  * bridge, and the real `javax.imageio` decoder behind the codec seam. */
class RoundThirteenSpec extends AnyFunSuite with Matchers {
  private lazy val spark = SparkFixture.spark
  import spark.implicits._

  private def assets(texts: Seq[(Long, String)]) =
    Multimodal.assetsFromText(texts.toDF("id", "txt"), "id", "txt")
      .withColumnRenamed("id", "asset_id")

  private val corpusTexts: Seq[(Long, String)] = (1L to 300L).map { i =>
    i -> (if (i % 4 == 0)
      s"x$i" + ("shared near duplicate payload body with stable words " * 3).drop(3)
    else s"unique material number $i with its own distinct words " * 2)
  }

  private def dataFiles(store: String, table: String): Map[String, (Long, Long)] = {
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(walk) else Seq(f)
    walk(new java.io.File(s"$store/data/$table"))
      .map(f => f.getAbsolutePath -> ((f.length(), f.lastModified()))).toMap
  }

  test("ingest appends a delta snapshot: base partitions untouched, write volume delta-sized") {
    // all-unique payloads: fingerprint columns stay high-entropy, so the
    // byte comparison measures data volume, not parquet footer constants
    val uniq: Seq[(Long, String)] = (1L to 620L).map(i =>
      i -> s"wholly distinct material number $i with words ${i * 7} and ${i * 13}")
    val store = SparkFixture.tempDir("r13-delta")
    StandingState.bootstrap(assets(uniq.take(600)), store)
    val baseBytes = StandingState.snapshotDataBytes(spark, store, 0L)
    val baseFilesBefore = dataFiles(store, "fingerprints")
    StandingState.ingest(assets(uniq.drop(600)), store)
    // base partition files byte- and mtime-identical — nothing rewritten
    val after = dataFiles(store, "fingerprints")
    baseFilesBefore.foreach { case (p, lm) => after(p) shouldBe lm }
    // the fold's own write is sized by the 20-doc delta, not the
    // 600-doc standing corpus (a full-rewrite model pays >= baseBytes)
    val snap1 = StandingState.latestSnapshot(spark, store)
    val deltaBytes = StandingState.snapshotDataBytes(spark, store, snap1)
    deltaBytes should be < baseBytes / 2
    // and the chained read still covers everything exactly once
    StandingState.readFingerprints(spark, store).count() shouldBe uniq.size
  }

  test("writer lease: a concurrent (or crashed) writer refuses loudly at start") {
    val store = SparkFixture.tempDir("r13-lease")
    StandingState.bootstrap(assets(corpusTexts.take(12)), store)
    val lease = new java.io.File(s"$store/_LEASE")
    val os = new java.io.FileOutputStream(lease)
    try os.write("someone-else".getBytes("UTF-8")) finally os.close()
    val ex = intercept[StandingState.StaleStateException] {
      StandingState.ingest(assets(corpusTexts.slice(12, 16)), store)
    }
    ex.getMessage should include("write-leased")
    // reads are unaffected by a held lease
    noException should be thrownBy
      StandingState.readFingerprints(spark, store).collect()
    // an operator breaks the dead writer's lease explicitly; the fold
    // then proceeds
    StandingState.breakLease(spark, store)
    StandingState.ingest(assets(corpusTexts.slice(12, 16)), store)
    StandingState.readFingerprints(spark, store).count() shouldBe 16
  }

  test("retention: keepSnapshots bounds the store, sweeps orphans, keeps shared data") {
    val store = SparkFixture.tempDir("r13-keep")
    StandingState.bootstrap(assets(corpusTexts.take(12)), store)
    StandingState.ingest(assets(corpusTexts.slice(12, 16)), store)
    StandingState.ingest(assets(corpusTexts.slice(16, 20)), store)
    StandingState.ingest(assets(corpusTexts.slice(20, 24)), store)
    // a crashed commit attempt leaves an unreferenced orphan partition
    val orphan = new java.io.File(s"$store/data/fingerprints/p99999-dead")
    orphan.mkdirs() shouldBe true
    val of = new java.io.FileOutputStream(new java.io.File(orphan, "part-orphan"))
    try of.write(7) finally of.close()
    // orphans are invisible to reads (only witnessed partitions scan)
    StandingState.readFingerprints(spark, store).count() shouldBe 24
    StandingState.keepSnapshots(spark, store, keep = 2)
    StandingState.snapshots(spark, store).size shouldBe 2
    orphan.exists() shouldBe false
    // shared base partitions survived (still referenced) — full reads intact
    StandingState.readFingerprints(spark, store).count() shouldBe 24
    val full = SparkFixture.tempDir("r13-keep-full")
    StandingState.bootstrap(assets(corpusTexts.take(24)), full)
    StandingState.readClusters(spark, store).collect().map(r =>
      (r.getLong(0), r.getLong(1))).toSet shouldBe
      StandingState.readClusters(spark, full).collect().map(r =>
        (r.getLong(0), r.getLong(1))).toSet
  }

  test("rollbackTo refolds from the bootstrap; retireSnapshot refuses the latest") {
    val store = SparkFixture.tempDir("r13-rollback")
    StandingState.bootstrap(assets(corpusTexts.take(12)), store)
    StandingState.ingest(assets(corpusTexts.slice(12, 16)), store)
    StandingState.rollbackTo(spark, store, 0L)
    StandingState.snapshots(spark, store) shouldBe Seq(0L)
    StandingState.readFingerprints(spark, store).count() shouldBe 12
    // re-ingest after rollback reproduces the same chain
    StandingState.ingest(assets(corpusTexts.slice(12, 16)), store)
    StandingState.readFingerprints(spark, store).count() shouldBe 16
    intercept[StandingState.StaleStateException] {
      StandingState.retireSnapshot(
        spark, store, StandingState.latestSnapshot(spark, store))
    }
    intercept[StandingState.StaleStateException] {
      StandingState.rollbackTo(spark, store, 77L)
    }
  }

  test("time travel: an old snapshot reads bit-exactly after later commits") {
    val store = SparkFixture.tempDir("r13-travel")
    StandingState.bootstrap(assets(corpusTexts.take(12)), store)
    StandingState.ingest(assets(corpusTexts.slice(12, 16)), store)
    val night1 = StandingState.latestSnapshot(spark, store)
    val asOfNight1 = StandingState.readTable(spark, store, "fingerprints", night1)
      .collect().map(_.toString).toSet
    StandingState.ingest(assets(corpusTexts.slice(16, 20)), store)
    // the night-1 snapshot still reads EXACTLY, though night 2 committed
    StandingState.readTable(spark, store, "fingerprints", night1)
      .collect().map(_.toString).toSet shouldBe asOfNight1
    asOfNight1.size shouldBe 16
    StandingState.readTable(spark, store, "fingerprints").count() shouldBe 20
  }

  test("compactManifest: bounded-cadence fold past the partition cap, no-op under it") {
    val store = SparkFixture.tempDir("r13-compactgate")
    StandingState.bootstrap(assets(corpusTexts.take(12)), store)
    StandingState.ingest(assets(corpusTexts.slice(12, 16)), store)
    StandingState.ingest(assets(corpusTexts.slice(16, 20)), store)
    val before = StandingState.readClusters(spark, store).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // 3 partitions per table > cap 2 → the honest full rewrite runs
    StandingState.compactManifest(spark, store, maxPartitions = 2) shouldBe true
    StandingState.snapshots(spark, store).size shouldBe 1
    Option(new java.io.File(s"$store/data/fingerprints").listFiles())
      .toSeq.flatten.count(_.isDirectory) shouldBe 1
    StandingState.readClusters(spark, store).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet shouldBe before
    // under the cap: a no-op — compaction is bounded-cadence by design
    StandingState.compactManifest(spark, store, maxPartitions = 2) shouldBe false
  }

  test("a corrupted witness refuses the read as StaleStateException, never a parse error") {
    val store = SparkFixture.tempDir("r13-badwitness")
    StandingState.bootstrap(assets(corpusTexts.take(8)), store)
    val w = new java.io.File(s"$store/snap00000/_WITNESS")
    val os = new java.io.FileOutputStream(w)
    try os.write("#owner=x\nfingerprints broken-line-no-tabs".getBytes("UTF-8"))
    finally os.close()
    val ex = intercept[StandingState.StaleStateException] {
      StandingState.readFingerprints(spark, store).collect()
    }
    ex.getMessage should include("unparseable witness")
  }

  test("witness relpaths are scheme-insensitive: write via /path, read via file:/path") {
    val store = SparkFixture.tempDir("r13-scheme")
    StandingState.bootstrap(assets(corpusTexts.take(8)), store)
    noException should be thrownBy
      StandingState.readClusters(spark, s"file:$store").collect()
    StandingState.readFingerprints(spark, s"file:$store").count() shouldBe 8
  }

  test("writeTables on a live store is the honest compaction: revisions fold to one partition") {
    val store = SparkFixture.tempDir("r13-compact")
    StandingState.bootstrap(assets(corpusTexts.take(12)), store)
    StandingState.ingest(assets(corpusTexts.slice(12, 16)), store)
    StandingState.ingest(assets(corpusTexts.slice(16, 20)), store)
    val before = StandingState.readClusters(spark, store).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    StandingState.writeTables(store, Seq(
      StandingState.TableSpec("fingerprints",
        StandingState.readFingerprints(spark, store), "asset_id"),
      StandingState.TableSpec("clusters",
        StandingState.readClusters(spark, store).withColumn("_seq", lit(0L)),
        "doc_id")))
    StandingState.keepSnapshots(spark, store, keep = 1)
    Option(new java.io.File(s"$store/data/clusters").listFiles())
      .toSeq.flatten.count(_.isDirectory) shouldBe 1
    StandingState.readClusters(spark, store).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet shouldBe before
  }

  test("frameHashes: a null payload yields zero frames, not a null-condition failure") {
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("asset_id",
        org.apache.spark.sql.types.LongType, nullable = false),
      org.apache.spark.sql.types.StructField("content",
        org.apache.spark.sql.types.BinaryType)))
    import scala.jdk.CollectionConverters._
    val rows = Seq(
      org.apache.spark.sql.Row(1L, "abcdefgh".getBytes("UTF-8")),
      org.apache.spark.sql.Row(2L, null))
    val df = spark.createDataFrame(rows.asJava, schema)
    val out = Multimodal.frameHashes(df, frameLen = 4, stride = 4).collect()
    out.map(_.getLong(0)).toSet shouldBe Set(1L) // null row: no frames
    out.length shouldBe 2
  }

  test("imageIoDecoder: real PNG pixels through the codec seam, aHash over real imagery") {
    def png(seed: Int): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(
        32, 24, java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (x <- 0 until 32; y <- 0 until 24)
        img.setRGB(x, y, ((x * 8 + seed * 40) % 256 << 16) | ((y * 10) % 256 << 8)
          | ((x * y + seed) % 256))
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", bos)
      bos.toByteArray
    }
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("asset_id",
        org.apache.spark.sql.types.LongType, nullable = false),
      org.apache.spark.sql.types.StructField("content",
        org.apache.spark.sql.types.BinaryType)))
    import scala.jdk.CollectionConverters._
    val rows = Seq(
      org.apache.spark.sql.Row(1L, png(0)),
      org.apache.spark.sql.Row(2L, png(0)),              // byte-identical image
      org.apache.spark.sql.Row(3L, png(3)),              // different image
      org.apache.spark.sql.Row(4L, Array[Byte](1, 2, 3))) // not an image
    val df = spark.createDataFrame(rows.asJava, schema).repartition(2)
    val decoded = Multimodal.decodeWith(df, Multimodal.imageDecodedSchema)(
      Multimodal.imageIoDecoder)
    val byId = decoded.collect().map(r => r.getLong(0) -> r).toMap
    byId(1L).getInt(1) shouldBe 32 // native width survives decode
    byId(4L).isNullAt(1) shouldBe true // poison pill → null row, no task failure
    val hashes = Multimodal.imageAHash(decoded).collect()
      .map(r => r.getLong(0) -> r.getLong(3)).toMap
    hashes.keySet shouldBe Set(1L, 2L, 3L) // undecodable row dropped
    hashes(1L) shouldBe hashes(2L) // identical pixels, identical hash
    hashes(1L) should not be hashes(3L) // different pixels, different hash
  }

  test("wavDecoder: real WAV bytes through the codec seam, gain-invariant audio fingerprint") {
    def wav(samples: Array[Short], channels: Int = 1, rate: Float = 8000f): Array[Byte] = {
      val fmt = new javax.sound.sampled.AudioFormat(rate, 16, channels, true, false)
      val raw = new Array[Byte](samples.length * 2)
      for (i <- samples.indices) {
        raw(2 * i) = (samples(i) & 0xff).toByte
        raw(2 * i + 1) = ((samples(i) >> 8) & 0xff).toByte
      }
      val ais = new javax.sound.sampled.AudioInputStream(
        new java.io.ByteArrayInputStream(raw), fmt, samples.length / channels)
      val bos = new java.io.ByteArrayOutputStream()
      javax.sound.sampled.AudioSystem.write(
        ais, javax.sound.sampled.AudioFileFormat.Type.WAVE, bos)
      bos.toByteArray
    }
    // rising-then-falling energy ramp: 32 bins x 100 samples, alternating
    // +/- amplitude per sample so each bin's RMS IS its amplitude
    def ramp(gain: Double): Array[Short] = (0 until 3200).map { i =>
      val bin = i / 100
      val amp = (200.0 * (if (bin < 20) bin + 1 else 40 - bin) * gain).toInt
      (if (i % 2 == 0) amp else -amp).toShort
    }.map(_.toShort).toArray
    val mono = ramp(1.0)
    val stereo = mono.flatMap(s => Array(s, s)) // both channels identical
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("asset_id",
        org.apache.spark.sql.types.LongType, nullable = false),
      org.apache.spark.sql.types.StructField("content",
        org.apache.spark.sql.types.BinaryType)))
    import scala.jdk.CollectionConverters._
    val rows = Seq(
      org.apache.spark.sql.Row(1L, wav(mono)),
      org.apache.spark.sql.Row(2L, wav(mono)),              // byte-identical
      org.apache.spark.sql.Row(3L, wav(ramp(0.5))),         // half gain, same shape
      org.apache.spark.sql.Row(4L, wav(mono.reverse)),      // reversed contour
      org.apache.spark.sql.Row(5L, wav(stereo, channels = 2)), // stereo fold
      org.apache.spark.sql.Row(6L, Array[Byte](9, 9, 9)))   // not audio
    val df = spark.createDataFrame(rows.asJava, schema).repartition(2)
    val decoded = Multimodal.decodeWith(df, Multimodal.audioDecodedSchema)(
      Multimodal.wavDecoder)
    val byId = decoded.collect().map(r => r.getLong(0) -> r).toMap
    byId(1L).getInt(1) shouldBe 8000 // native params survive decode
    byId(1L).getInt(2) shouldBe 1
    byId(1L).getLong(3) shouldBe 3200L
    byId(5L).getInt(2) shouldBe 2
    byId(6L).isNullAt(1) shouldBe true // poison pill → null row, no task failure
    val fp = Multimodal.audioFingerprint(decoded).collect()
      .map(r => r.getLong(0) -> r.getLong(4)).toMap
    fp.keySet shouldBe Set(1L, 2L, 3L, 4L, 5L) // undecodable row dropped
    fp(1L) shouldBe fp(2L) // identical audio, identical fingerprint
    fp(1L) shouldBe fp(3L) // uniform gain preserves the contour shape
    fp(1L) shouldBe fp(5L) // identical-channel stereo folds to the mono print
    fp(1L) should not be fp(4L) // reversed energy contour differs
  }

  test("persisted ANN index: chained nightly assignment ≡ from-scratch; drift gate + refine") {
    val vecs = (0L until 60L).map(i => (i, Seq(
      (i % 7).toDouble, (i * 3 % 5).toDouble, (i * 5 % 11).toDouble, 1.0)))
    val emb = vecs.toDF("vec_id", "embedding")
    val base = emb.filter(col("vec_id") < 28)
    val store = SparkFixture.tempDir("r13-ann")
    AnnIndex.bootstrap(base, "vec_id", "embedding", numCentroids = 3, store)
    // small delta: exact fold, gate stays closed
    val drift1 = AnnIndex.ingest(
      emb.filter(col("vec_id") >= 28 && col("vec_id") < 31),
      "vec_id", "embedding", store)
    drift1 shouldBe false
    val corpus31 = emb.filter(col("vec_id") < 31)
    val queries = emb.filter(col("vec_id") < 3)
    val persisted = AnnIndex.topK(
      corpus31, queries, "vec_id", "embedding", k = 4, store, nprobe = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(3))).toSet
    val (cents, _) = Similarity.ivfIndexTables(base, "vec_id", "embedding", 3)
    val scratch = Similarity.ivfTopKFromIndex(
      corpus31, queries, "vec_id", "embedding", k = 4,
      cents, Similarity.ivfAssign(corpus31, cents, "vec_id", "embedding"), nprobe = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(3))).toSet
    persisted shouldBe scratch
    // big delta: the gate fires; refine is the labeled full rewrite
    val drift2 = AnnIndex.ingest(
      emb.filter(col("vec_id") >= 31), "vec_id", "embedding", store)
    drift2 shouldBe true
    val centsBefore = AnnIndex.readCentroids(spark, store)
      .collect().map(_.toString).toSet
    AnnIndex.refine(emb, "vec_id", "embedding", store)
    StandingState.keepSnapshots(spark, store, keep = 1)
    AnnIndex.readCentroids(spark, store)
      .collect().map(_.toString).toSet should not be centsBefore
    // post-refine the inverted file covers the full corpus exactly once
    AnnIndex.readCells(spark, store).count() shouldBe 60L
    AnnIndex.readCells(spark, store).select("corpus_id").distinct()
      .count() shouldBe 60L
  }

  test("witness-digest bridge: standing-table index keys pay zero per-file stats") {
    val store = SparkFixture.tempDir("r13-bridge")
    StandingState.bootstrap(assets(corpusTexts.take(12)), store)
    StandingState.ingest(assets(corpusTexts.slice(12, 16)), store)
    def fpIndex() = Materialize.index(
      StandingState.readFingerprints(spark, store).select("asset_id", "phash"),
      "r13-bridge-idx")
    val (h0, m0, _) = Materialize.cacheTelemetry
    val (s0, w0) = Materialize.bridgeTelemetry
    fpIndex().count()
    val (s1, w1) = Materialize.bridgeTelemetry
    val (h1, m1, _) = Materialize.cacheTelemetry
    m1 - m0 shouldBe 1 // first build: a miss, as ever (behavior unchanged)
    w1 - w0 should be > 0L // versioned via the store's witness digest...
    s1 - s0 shouldBe 0L // ...with ZERO per-file getFileStatus calls
    fpIndex().count()
    val (h2, _, _) = Materialize.cacheTelemetry
    h2 - h1 shouldBe 1 // cache-hit behavior unchanged
    Materialize.dropAll()
  }

  test("tie-down: segment-key rendering of BINARY values is content-based on every path") {
    import graft.sources.dsv2.ParquetSegmentService
    val a = Array[Byte](1, 2, -3)
    val b = Array[Byte](1, 2, -3)
    // identity rendering would differ between two equal-content arrays
    ParquetSegmentService.render(a) shouldBe ParquetSegmentService.render(b)
    ParquetSegmentService.render(a) shouldBe "0102fd"
    ParquetSegmentService.inSegmentValue(
      ParquetSegmentService.render(a), 0, 4) shouldBe
      ParquetSegmentService.inSegmentValue(ParquetSegmentService.render(b), 0, 4)
  }
}
