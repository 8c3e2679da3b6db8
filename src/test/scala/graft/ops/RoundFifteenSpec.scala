package graft.ops

import graft.SparkFixture
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** Round-15 pins: byte-order string zone maps (supplementary-plane keys
  * prune losslessly), the no-zone fallback for files whose row groups
  * lack complete statistics, and the compactTables table-coverage
  * refusal. */
class RoundFifteenSpec extends AnyFunSuite with Matchers {
  private lazy val spark = SparkFixture.spark
  import spark.implicits._

  test("string zone maps compare in UTF-8 byte order: supplementary-plane keys prune losslessly") {
    // The divergence: U+1F600 (GRINNING FACE, UTF-8 F0 9F 98 80) sorts AFTER
    // U+FFFD (EF BF BD) in byte order but BEFORE it in Java's UTF-16
    // code-unit order (surrogate 0xD83D < 0xFFFD). A file whose
    // byte-order zone is [U+FFFD..., U+1F600...] therefore looks EMPTY for the
    // U+1F600 key under a UTF-16 comparator -- the silent-skip this pins.
    val store = SparkFixture.tempDir("r15-utf8zone")
    val rows = Seq(
      "alpha", "beta", "gamma", "delta",                    // ASCII file(s)
      "\uFFFD replacement", "\uFFFD tail",                  // high-BMP
      "\uD83D\uDE00 grin", "\uD83D\uDE01 beam",             // supplementary
      "\uE000 private use", "zeta")
      .zipWithIndex.map { case (k, i) => (k, i.toLong) }
    // 3 rows/file puts {U+FFFD..., U+FFFD..., U+1F600...} in ONE file:
    // its byte-order zone is [U+FFFD replacement, U+1F600 grin], the
    // exact shape a UTF-16 comparator mis-rejects for the U+1F600 key
    StandingState.writeTables(store, Seq(
      StandingState.TableSpec(
        "t", rows.toDF("k", "v"), "k")), targetRowsPerFile = 3)
    // every key must round-trip through the pruned read — including the
    // supplementary-plane ones whose file zone starts at a BMP key
    rows.foreach { case (k, v) =>
      val got = StandingState.readTablePruned(spark, store, "t", Seq(k))
        .filter(col("k") === lit(k)).collect()
      withClue(s"key ${k.codePoints().toArray.mkString("+")}: ") {
        got.map(_.getLong(1)).toSeq shouldBe Seq(v)
      }
    }
    // and the pruning is real: an ASCII probe far below the non-ASCII
    // files' zones reads fewer files than the full table
    val full = StandingState.readTable(spark, store, "t").inputFiles.length
    val pruned = StandingState.readTablePruned(spark, store, "t", Seq("alpha"))
      .inputFiles.length
    full should be >= 4
    pruned should be < full
  }

  test("a row group without statistics forfeits the file's zone: probe still reads it") {
    // parquet-mr omits binary min/max over its 4 KB stats cap. Force a
    // MULTI-row-group file where only the first group carries stats
    // (tiny block size => ~100-row groups; the second group's keys are
    // >4 KB): a zone aggregated from the stated group alone would not
    // cover the unstated rows — the sound record is NO zone, and the
    // pruned read must still return the oversized key's row.
    val store = SparkFixture.tempDir("r15-nostats")
    val hconf = spark.sparkContext.hadoopConfiguration
    val prevBlock = Option(hconf.get("parquet.block.size"))
    hconf.set("parquet.block.size", "1024")
    try {
      val big = "zz" + ("x" * 5000) // > 4 KB: stats dropped for its group
      val rows = (1 to 100).map(i => (f"a$i%03d", i.toLong)) :+ (big, 999L)
      StandingState.writeTables(store, Seq(
        StandingState.TableSpec(
          "t", rows.toDF("k", "v").orderBy("k"), "k")),
        targetRowsPerFile = 1000000L)
      // the scenario is real: the written file has >= 2 row groups and
      // at least one of them carries NO usable stats for the cluster
      // column (otherwise this test would pass vacuously)
      import scala.jdk.CollectionConverters._
      val conf = spark.sessionState.newHadoopConf()
      val fsys = new org.apache.hadoop.fs.Path(store).getFileSystem(conf)
      val pfile = fsys.listStatus(fsys.listStatus(
          new org.apache.hadoop.fs.Path(s"$store/data/t")).head.getPath)
        .map(_.getPath).filter(_.getName.endsWith(".parquet")).head
      val rdr = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(pfile, conf))
      val (nBlocks, nWithStats) = try {
        val blocks = rdr.getFooter.getBlocks.asScala.toSeq
        (blocks.size, blocks.count { b =>
          val st = b.getColumns.asScala
            .find(_.getPath.toDotString == "k").get.getStatistics
          st != null && !st.isEmpty && st.hasNonNullValue
        })
      } finally rdr.close()
      withClue(s"row groups $nBlocks, with stats $nWithStats: ") {
        nBlocks should be >= 2
        nWithStats should be < nBlocks
      }
      val got = StandingState.readTablePruned(spark, store, "t", Seq(big))
        .filter(col("k") === lit(big)).collect()
      got.map(_.getLong(1)).toSeq shouldBe Seq(999L)
      // an in-range small key still reads too (the file has no zone at
      // all — full read is the contract when coverage is in doubt)
      StandingState.readTablePruned(spark, store, "t", Seq("a050"))
        .filter(col("k") === "a050").count() shouldBe 1L
    } finally prevBlock match {
      case Some(v) => hconf.set("parquet.block.size", v)
      case None => hconf.unset("parquet.block.size")
    }
  }

  test("compactTables refuses a table list that does not cover the store") {
    val store = SparkFixture.tempDir("r15-cover")
    StandingState.writeTables(store, Seq(
      StandingState.TableSpec("a", Seq((1L, "x")).toDF("id", "s"), "id"),
      StandingState.TableSpec("b", Seq((2L, "y")).toDF("id", "s"), "id")),
      targetRowsPerFile = 10)
    val e = intercept[StandingState.StaleStateException] {
      StandingState.compactTables(spark, store, Seq(("a", "id")),
        maxPartitions = 0)
    }
    e.getMessage should include ("b")
    // the refusal left the store intact: both tables still read
    StandingState.readTable(spark, store, "a").count() shouldBe 1L
    StandingState.readTable(spark, store, "b").count() shouldBe 1L
    // the covering list compacts (maxPartitions=0 forces it) and keeps
    // every row of every table
    StandingState.compactTables(spark, store,
      Seq(("a", "id"), ("b", "id")), maxPartitions = 0) shouldBe true
    StandingState.readTable(spark, store, "a").count() shouldBe 1L
    StandingState.readTable(spark, store, "b").count() shouldBe 1L
  }

  test("centroid/code assignment is hash-aggregated (no sort of the N·C stream), ties to lowest cid") {
    // two identical centroids (cid 0, 1) force the tie; the argmax must
    // take the LOWEST cid — the oracle's ORDER BY s DESC, cid ASC
    val cents = Seq(
      (0, Seq(1.0, 0.0)), (1, Seq(1.0, 0.0)), (2, Seq(0.0, 1.0)))
      .toDF("cid", "cvec")
    val vecs = Seq((10L, Seq(0.9, 0.1)), (11L, Seq(0.1, 0.9)))
      .toDF("vec_id", "embedding")
    val assigned = Similarity.ivfAssign(vecs, cents, "vec_id", "embedding")
    assigned.collect().map(r => (r.getLong(0), r.getInt(1))).toSet shouldBe
      Set((10L, 0), (11L, 2))
    // plan pin: the argmax is a Tungsten HashAggregate (declarative
    // fixed-width buffer, whole-stage codegen, no fallback-threshold
    // knob) — a max(struct) here would SortAggregate the vectors ×
    // centroids stream (3.7 GB of spill at the 10× soak)
    val plan = assigned.queryExecution.executedPlan.toString
    plan should include ("HashAggregate")
    (plan should not).include("ObjectHashAggregate")
    (plan should not).include("SortAggregate")
  }

  test("keeper selection and revision resolve are hash-aggregated too, ties pinned") {
    // priorityKeepers: min rank wins, ties to the LOWEST doc id
    val members = Seq((1L, 100L, "a"), (2L, 100L, "b"), (3L, 100L, "b"))
      .toDF("doc_id", "cluster", "source")
    val prios = Seq(("a", 2), ("b", 1)).toDF("source", "rank")
    val kept = Cluster.priorityKeepers(members, prios)
    kept.filter(col("is_keeper")).select("doc_id").collect()
      .map(_.getLong(0)).toSeq shouldBe Seq(2L) // rank 1 tie → lowest doc id
    val plan = kept.queryExecution.executedPlan.toString
    plan should include ("HashAggregate")
    (plan should not).include("ObjectHashAggregate")
    (plan should not).include("SortAggregate")
    // readClusters: highest _seq wins across revisions
    val store = SparkFixture.tempDir("r15-rc")
    StandingState.writeTables(store, Seq(StandingState.TableSpec(
      "clusters", Seq((7L, 1L, 0L), (8L, 8L, 0L)).toDF("doc_id", "cluster", "_seq"),
      "doc_id")))
    StandingState.appendTables(store, Seq(StandingState.TableSpec(
      "clusters", Seq((7L, 2L, 1L)).toDF("doc_id", "cluster", "_seq"), "doc_id")))
    StandingState.readClusters(spark, store).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap shouldBe
      Map(7L -> 2L, 8L -> 8L) // doc 7 resolved to its _seq-1 revision
  }

  // --------------------------------------------- arrow-batched decode seam

  private def gifFrame(i: Int): java.awt.image.BufferedImage = {
    val img = new java.awt.image.BufferedImage(
      32, 32, java.awt.image.BufferedImage.TYPE_INT_RGB)
    val g = img.createGraphics()
    try {
      g.setColor(java.awt.Color.BLACK)
      g.fillRect(0, 0, 32, 32)
      g.setColor(java.awt.Color.WHITE)
      g.fillRect((i % 4) * 8, (i / 4 % 4) * 8, 8, 8)
    } finally g.dispose()
    img
  }

  private def gifBytes(frames: Seq[java.awt.image.BufferedImage]): Array[Byte] = {
    val baos = new java.io.ByteArrayOutputStream()
    val ios = javax.imageio.ImageIO.createImageOutputStream(baos)
    val w = javax.imageio.ImageIO.getImageWritersByFormatName("gif").next()
    try {
      w.setOutput(ios)
      w.prepareWriteSequence(null)
      frames.foreach(f =>
        w.writeToSequence(new javax.imageio.IIOImage(f, null, null), null))
      w.endWriteSequence()
    } finally { w.dispose(); ios.close() }
    baos.toByteArray
  }

  test("arrow-batched decode seam ≡ row seam over real GIF pixels (incl. poison pills)") {
    val media = Seq(
      (1L, gifBytes((0 until 6).map(gifFrame))),
      (2L, gifBytes((2 until 6).map(gifFrame))),
      (3L, "not a gif".getBytes("UTF-8")))
      .toDF("asset_id", "content")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map { r =>
        (r.getLong(0), Option(r.get(1)), Option(r.get(2)), Option(r.get(3)),
          Option(r.getAs[scala.collection.Seq[Int]]("luma64")).map(_.toList))
      }.toSet
    val viaRows = rows(Multimodal.decodeWith(
      media, Multimodal.videoDecodedSchema)(Multimodal.gifFrameDecoder))
    // batchRows = 2 forces multiple Arrow batches through the seam
    val viaArrow = rows(Multimodal.decodeWithArrow(
      media, Multimodal.videoDecodedSchema, batchRows = 2)(Multimodal.gifFrameDecoder))
    viaArrow shouldBe viaRows
    viaRows.size shouldBe 11 // 6 + 4 frames + 1 poison row
  }

  test("the byte-level arrow seam really batches: capped record batches, value-exact round trip") {
    val df = spark.range(100).selectExpr(
      "id", "concat('payload ', id) AS s").repartition(1)
    val batches = spark.sparkContext.longAccumulator("arrow-batches")
    val out = org.apache.spark.sql.graftshim.ArrowSeam.mapArrowBatches(
      df, df.schema, batchRows = 8) { it =>
      it.map { b => batches.add(1); b } // a native worker would decode here
    }
    out.collect().map(r => (r.getLong(0), r.getString(1))).sorted.toSeq shouldBe
      (0L until 100L).map(i => (i, s"payload $i"))
    batches.value.toLong should be >= 13L // 100 rows / 8-row batches
  }

  test("commit protocol under real thread concurrency: racing appenders land exactly once") {
    // Every prior lease/staleness pin drives the protocol SEQUENTIALLY
    // (plant a lease file, commit under a moved base). This is the
    // actual race: N writers on N threads, barrier-released together,
    // each retrying its one delta until the store accepts it. On local
    // disk the lease is check-then-create (narrowed, not closed — see
    // acquireLease's doc), so threads DO interleave past it here and the
    // witness rename is the arbiter the property really exercises:
    // however the refusals land (lease-held or stale-base), every delta
    // must commit EXACTLY once and no winner's work may be dropped.
    val store = SparkFixture.tempDir("r15-race")
    StandingState.writeTables(store, Seq(StandingState.TableSpec(
      "t", Seq(("base", -1L)).toDF("k", "v"), "k")))
    val writers = 6
    val barrier = new java.util.concurrent.CyclicBarrier(writers)
    val refusals = new java.util.concurrent.atomic.AtomicInteger(0)
    val failures = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
    val threads = (0 until writers).map { i =>
      new Thread(() => {
        try {
          val delta = Seq((f"k$i%02d", i.toLong)).toDF("k", "v")
          barrier.await()
          var done = false
          var attempts = 0
          while (!done && attempts < 300) {
            attempts += 1
            try {
              // distinct owners: the owner-dedup replay skip makes the
              // retry idempotent even if a win surfaces as a failure
              StandingState.appendTables(store, Seq(
                StandingState.TableSpec("t", delta, "k")), owner = s"racer-$i")
              done = true
            } catch {
              case _: StandingState.StaleStateException =>
                refusals.incrementAndGet(); Thread.sleep(15)
            }
          }
          if (!done) failures.add(s"racer-$i: retries exhausted")
        } catch { case e: Throwable => failures.add(s"racer-$i: $e") }
      }, s"r15-racer-$i")
    }
    // concurrent readers: every read taken WHILE commits land must
    // observe some committed snapshot's exact row set — never a torn
    // half-commit (the atomic witness rename is what makes this hold)
    val observed = java.util.concurrent.ConcurrentHashMap.newKeySet[Set[(String, Long)]]()
    val writersDone = new java.util.concurrent.atomic.AtomicBoolean(false)
    val readers = (0 until 2).map { r =>
      new Thread(() => {
        try {
          while (!writersDone.get()) {
            observed.add(StandingState.readTable(spark, store, "t")
              .collect().map(x => (x.getString(0), x.getLong(1))).toSet)
            Thread.sleep(25) // bound scheduler churn, keep the race long
          }
        } catch { case e: Throwable => failures.add(s"reader-$r: $e") }
      }, s"r15-reader-$r")
    }
    readers.foreach(_.start())
    threads.foreach(_.start())
    threads.foreach(_.join(180000))
    writersDone.set(true)
    readers.foreach(_.join(60000))
    withClue(s"racer failures: $failures: ") { failures.isEmpty shouldBe true }
    info(s"refusals retried: ${refusals.get()}; distinct read states: ${observed.size}")
    // snapshot isolation, post-hoc: enumerate every committed snapshot's
    // row set; each concurrent observation must be exactly one of them
    val snapSets = StandingState.snapshots(spark, store).map { s =>
      StandingState.readTable(spark, store, "t", s)
        .collect().map(x => (x.getString(0), x.getLong(1))).toSet
    }.toSet
    observed.forEach { o =>
      withClue(s"torn read $o: ") { snapSets should contain(o) }
    }
    // exactly-once: base + one row per winner, no duplicates, no loss
    val got = StandingState.readTable(spark, store, "t")
      .collect().map(r => (r.getString(0), r.getLong(1))).sorted.toSeq
    got shouldBe (("base", -1L) +: (0 until writers).map(i => (f"k$i%02d", i.toLong)))
    // one snapshot per commit: bootstrap + exactly `writers` appends
    StandingState.snapshots(spark, store).size shouldBe (writers + 1)
    // and the store is still healthy for a new writer afterwards
    StandingState.appendTables(store, Seq(StandingState.TableSpec(
      "t", Seq(("after", 99L)).toDF("k", "v"), "k")), owner = "post-race")
    StandingState.readTable(spark, store, "t").count() shouldBe (writers + 2L)
  }

  test("lease release is compare-and-delete: a slipped writer's exit leaves the live lease") {
    // LocalFileSystem's create-exclusive is check-then-create, so a
    // racing writer CAN slip past the lease and later lose at the
    // witness rename — its exit path must not delete the lease the
    // current holder is still committing under. Deterministic replay of
    // that interleaving via the private[ops] seams: acquire, have the
    // slipped writer overwrite the lease body (what its create does in
    // the window), then release — the file must survive, still naming
    // the slipped writer, and still refusing a third writer.
    val store = SparkFixture.tempDir("r15-leasecad")
    StandingState.writeTables(store, Seq(StandingState.TableSpec(
      "t", Seq(("a", 1L)).toDF("k", "v"), "k")))
    val lease = new java.io.File(s"$store/_LEASE")

    // the untouched path first: acquire + release removes the lease
    StandingState.acquireLease(spark, store, "w1")
    lease.exists() shouldBe true
    StandingState.releaseOwnLease(spark, store)
    lease.exists() shouldBe false

    // the interleaved path: another writer's create lands between this
    // acquisition and its release
    StandingState.acquireLease(spark, store, "w1")
    val os = new java.io.FileOutputStream(lease)
    try os.write("w2\nslipped-nonce".getBytes("UTF-8")) finally os.close()
    // the slipped writer's create goes through the Hadoop filesystem and
    // carries its own checksum; this raw overwrite must drop the stale
    // CRC sidecar or every subsequent read sees ChecksumException
    new java.io.File(s"$store/._LEASE.crc").delete()
    StandingState.releaseOwnLease(spark, store)
    lease.exists() shouldBe true // NOT ours to delete anymore
    // the surviving lease still guards the store, naming its holder
    val ex = intercept[StandingState.StaleStateException] {
      StandingState.appendTables(store, Seq(StandingState.TableSpec(
        "t", Seq(("b", 2L)).toDF("k", "v"), "k")), owner = "w3")
    }
    ex.getMessage should include("write-leased by 'w2'")
    // explicit break stays unconditional — the recovery path
    StandingState.breakLease(spark, store)
    StandingState.appendTables(store, Seq(StandingState.TableSpec(
      "t", Seq(("b", 2L)).toDF("k", "v"), "k")), owner = "w3")
    StandingState.readTable(spark, store, "t").count() shouldBe 2L
  }

  test("schema drift is refused at commit time, before any data lands") {
    // mixed-schema partitions read NONDETERMINISTICALLY (spark.read
    // projects whichever footer it sampled), so the commit must refuse —
    // the standing shape rides the witness as a #schema line
    val store = SparkFixture.tempDir("r15-schemadrift")
    StandingState.writeTables(store, Seq(StandingState.TableSpec(
      "t", Seq(("a", 1L)).toDF("k", "v"), "k")))
    // an added column is drift
    intercept[StandingState.StaleStateException] {
      StandingState.appendTables(store, Seq(StandingState.TableSpec(
        "t", Seq(("b", 2L, 0.5)).toDF("k", "v", "extra"), "k")))
    }.getMessage should include("schema drift refused")
    // a retyped column is drift
    intercept[StandingState.StaleStateException] {
      StandingState.appendTables(store, Seq(StandingState.TableSpec(
        "t", Seq(("b", "2")).toDF("k", "v"), "k")))
    }.getMessage should include("schema drift refused")
    // both refusals happened BEFORE any data landed: still one snapshot,
    // one row, the original shape
    StandingState.snapshots(spark, store).size shouldBe 1
    StandingState.readTable(spark, store, "t").count() shouldBe 1L
    // a REORDERED append is not drift — parquet resolves columns by name
    StandingState.appendTables(store, Seq(StandingState.TableSpec(
      "t", Seq((2L, "b")).toDF("v", "k"), "k")))
    StandingState.readTable(spark, store, "t")
      .collect().map(r => (r.getAs[String]("k"), r.getAs[Long]("v")))
      .sorted.toSeq shouldBe Seq(("a", 1L), ("b", 2L))
    // the migration path: a replace commit redefines the shape, after
    // which appends under the NEW shape land
    StandingState.writeTables(store, Seq(StandingState.TableSpec(
      "t", Seq(("a", 1L, 0.1), ("b", 2L, 0.2)).toDF("k", "v", "extra"), "k")))
    StandingState.appendTables(store, Seq(StandingState.TableSpec(
      "t", Seq(("c", 3L, 0.3)).toDF("k", "v", "extra"), "k")))
    StandingState.readTable(spark, store, "t").count() shouldBe 3L
  }

  test("a witness without #schema lines refuses any append loudly, writing no partition") {
    val store = SparkFixture.tempDir("r15-schemaless")
    StandingState.writeTables(store, Seq(StandingState.TableSpec(
      "t", Seq(("a", 1L)).toDF("k", "v"), "k")))
    // a witness no commit writes: strip the #schema lines (and drop the
    // CRC sidecar the raw rewrite invalidates)
    val witness = new java.io.File(s"$store/snap00000/_WITNESS")
    val stripped = scala.io.Source.fromFile(witness, "UTF-8").getLines()
      .filterNot(_.startsWith("#schema=")).mkString("\n")
    val os = new java.io.FileOutputStream(witness)
    try os.write(stripped.getBytes("UTF-8")) finally os.close()
    new java.io.File(s"$store/snap00000/._WITNESS.crc").delete()
    val partitions = new java.io.File(s"$store/data/t").list().toSet
    // with no standing shape on record the drift check cannot run, so
    // even an append of the data's own shape refuses, naming the migration
    val e = intercept[StandingState.StaleStateException] {
      StandingState.appendTables(store, Seq(StandingState.TableSpec(
        "t", Seq(("b", 2L)).toDF("k", "v"), "k")))
    }
    e.getMessage should include("#schema")
    e.getMessage should include("replace commit")
    // refused before any data was written
    new java.io.File(s"$store/data/t").list().toSet shouldBe partitions
    StandingState.snapshots(spark, store) shouldBe Seq(0L)
    // the migration: a replace commit records the shape, appends land again
    StandingState.writeTables(store, Seq(StandingState.TableSpec(
      "t", StandingState.readTable(spark, store, "t"), "k")), expectedBase = Some(0L))
    StandingState.appendTables(store, Seq(StandingState.TableSpec(
      "t", Seq(("b", 2L)).toDF("k", "v"), "k")))
    StandingState.readTable(spark, store, "t").count() shouldBe 2L
  }

  test("snapshot tags survive bounded retention; explicit deletion refuses a pin") {
    // a serving deployment pins the snapshot its registered view reads
    // (the decontam_ledger_snapshot_served pattern); retention must not
    // reclaim it from under the live view
    val store = SparkFixture.tempDir("r15-tags")
    def night(k: String, v: Long) = StandingState.appendTables(store, Seq(
      StandingState.TableSpec("t", Seq((k, v)).toDF("k", "v"), "k")))
    StandingState.writeTables(store, Seq(StandingState.TableSpec(
      "t", Seq(("n0", 0L)).toDF("k", "v"), "k")))
    val night1 = night("n1", 1L)
    night("n2", 2L); night("n3", 3L)
    StandingState.tagSnapshot(spark, store, night1, "served-view")
    StandingState.tagsOf(spark, store, night1) shouldBe Seq("served-view")
    // time travel BY NAME: the tag resolves to its snapshot; a missing
    // tag refuses, a duplicated tag refuses as ambiguous
    StandingState.snapshotForTag(spark, store, "served-view") shouldBe night1
    intercept[StandingState.StaleStateException] {
      StandingState.snapshotForTag(spark, store, "no-such-tag")
    }.getMessage should include("no snapshot tagged")
    StandingState.tagSnapshot(spark, store, night1 + 1, "served-view")
    intercept[StandingState.StaleStateException] {
      StandingState.snapshotForTag(spark, store, "served-view")
    }.getMessage should include("ambiguous")
    StandingState.untagSnapshot(spark, store, night1 + 1, "served-view")
    // bounded retention keeps the newest 1 AND the pinned snapshot
    StandingState.keepSnapshots(spark, store, keep = 1)
    val live = StandingState.snapshots(spark, store)
    live should contain(night1)
    live.size shouldBe 2
    // the pinned read is still bit-exact (its partitions survived the
    // orphan sweep because the pinned snapshot still references them)
    StandingState.readTable(spark, store, "t", night1)
      .collect().map(r => (r.getString(0), r.getLong(1))).sorted.toSeq shouldBe
      Seq(("n0", 0L), ("n1", 1L))
    // explicit deletions refuse the pin by name
    StandingState.tagSnapshot(spark, store, live.last, "also-pinned")
    intercept[StandingState.StaleStateException] {
      StandingState.rollbackTo(spark, store, night1)
    }.getMessage should include("also-pinned")
    StandingState.untagSnapshot(spark, store, live.last, "also-pinned")
    intercept[StandingState.StaleStateException] {
      StandingState.retireSnapshot(spark, store, night1)
    }.getMessage should include("served-view")
    intercept[StandingState.StaleStateException] {
      StandingState.retire(spark, store)
    }.getMessage should include("served-view")
    // released pin → the next bounded retention reclaims it
    StandingState.untagSnapshot(spark, store, night1, "served-view")
    StandingState.keepSnapshots(spark, store, keep = 1)
    StandingState.snapshots(spark, store).size shouldBe 1
    intercept[StandingState.StaleStateException] {
      StandingState.readTable(spark, store, "t", night1).count()
    }
    // the surviving latest still reads whole
    StandingState.readTable(spark, store, "t").count() shouldBe 4L
  }
}
