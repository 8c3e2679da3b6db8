package graft.ops

import graft.SparkFixture
import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.{AtomicBoolean, AtomicInteger, AtomicReference}
import org.apache.hadoop.fs.{Path => HPath}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** A second copy-then-delete filesystem rooted UNDER a private local
  * prefix, so `nafb://<path>` and `naf://<path>` carry the SAME path
  * but resolve to different directories — the "two buckets, one path"
  * shape of the round-17 arbiter-key hazard, reproducible on local
  * disk. */
class RootedNonAtomicFs extends NonAtomicRenameFs {
  override def getUri: java.net.URI = java.net.URI.create("nafb:///")
  override def getScheme: String = "nafb"
  override def pathToFile(path: HPath): java.io.File = {
    val p = path.toUri.getPath
    new java.io.File(RootedNonAtomicFs.root, if (p.isEmpty) "/" else p)
  }
}
object RootedNonAtomicFs {
  lazy val root: String = SparkFixture.tempDir("nafb-root")
}

/** In-memory fault injector with DynamoDB's retried-conditional
  * semantics: a "lost ack" APPLIES the write but reports the condition
  * failed (what a transport-level retry of a landed conditional put
  * observes); a gate can block one targeted call to freeze a writer
  * mid-protocol. */
class FaultArbiter(d: CommitArbiter) extends CommitArbiter {
  /** Substring match on the key: next matching putIfAbsent applies but
    * returns false. */
  val loseNextPutOn = new AtomicReference[String](null)
  /** Next deleteIf applies but returns false. */
  val loseNextDeleteIf = new AtomicBoolean(false)
  /** One-shot gate: the FIRST putIfAbsent on a key containing "snap:"
    * signals `reachedClaim` and then blocks on `claimGate`. */
  val armClaimGate = new AtomicBoolean(false)
  val reachedClaim = new CountDownLatch(1)
  val claimGate = new CountDownLatch(1)

  override def putIfAbsent(key: String, body: String): Boolean = {
    if (key.contains("snap:") && armClaimGate.getAndSet(false)) {
      reachedClaim.countDown()
      claimGate.await(60, TimeUnit.SECONDS)
      ()
    }
    val r = d.putIfAbsent(key, body)
    val lose = loseNextPutOn.get()
    if (r && lose != null && key.contains(lose)) {
      loseNextPutOn.set(null)
      false // the landed-put-retried shape: applied, reported as refused
    } else r
  }
  override def get(key: String): Option[String] = d.get(key)
  override def deleteIf(key: String, expect: String): Boolean = {
    val r = d.deleteIf(key, expect)
    if (r && loseNextDeleteIf.getAndSet(false)) false else r
  }
  override def delete(key: String): Unit = d.delete(key)
}

/** Round-17 pins: authority-qualified arbiter/lease/claim/witness-cache
  * keys (two same-path stores share one arbiter table without
  * interference), lost-ack and throttle fault injection on the
  * conditional-write protocol, TTL-fenced crashed-writer recovery with
  * the zombie's late commit refused, breakLease clearing BOTH stranded
  * claim positions, and witness-cache LRU eviction. */
class RoundSeventeenCommitSpec extends AnyFunSuite with Matchers with BeforeAndAfterAll {
  private lazy val spark = SparkFixture.spark
  import spark.implicits._

  override def beforeAll(): Unit = {
    super.beforeAll()
    spark.sparkContext.hadoopConfiguration
      .set("fs.naf.impl", classOf[NonAtomicRenameFs].getName)
    spark.sparkContext.hadoopConfiguration
      .set("fs.nafb.impl", classOf[RootedNonAtomicFs].getName)
  }

  private def nafStore(prefix: String): String =
    "naf://" + SparkFixture.tempDir(prefix)

  private def spec(name: String, rows: Seq[(String, Long)]) =
    StandingState.TableSpec(name, rows.toDF("k", "v"), "k")

  /** Runs `f` on the two store shapes crashed-writer recovery must hold
    * on: an object-store-shaped store behind a registered in-memory
    * arbiter, and a plain local-disk store whose lease and claims live
    * in its own [[FsArbiter]] (same keys, files in the store root). */
  private def onBothArbiters(prefix: String)(f: (String, CommitArbiter) => Unit): Unit = {
    val naf = nafStore(prefix)
    val mem = InMemoryArbiter.named(prefix)
    CommitArbiter.register(naf, mem)
    try withClue(s"$naf: ")(f(naf, mem))
    finally CommitArbiter.unregister(naf)
    val local = SparkFixture.tempDir(prefix + "-local")
    withClue(s"$local: ")(f(local, FsArbiter(spark, local)))
  }

  // ------------------------------------------------- key qualification

  test("storeKey carries scheme+authority: same-path buckets never alias, local respellings do") {
    CommitArbiter.storeKey("s3a://bucket-a/state") should not be
      CommitArbiter.storeKey("s3a://bucket-b/state")
    CommitArbiter.storeKey("s3a://bucket-a/state") shouldBe "s3a://bucket-a/state"
    // the documented local aliasing survives: a bare path and its file:
    // spelling are one store
    CommitArbiter.storeKey("/tmp/x") shouldBe CommitArbiter.storeKey("file:/tmp/x")
    // and registration resolves per-bucket, not per-path
    val a = InMemoryArbiter.named("r17-key-a")
    val b = InMemoryArbiter.named("r17-key-b")
    CommitArbiter.register("s3a://bucket-a/state", a)
    CommitArbiter.register("s3a://bucket-b/state", b)
    try {
      CommitArbiter.forStore(spark, "s3a://bucket-a/state") shouldBe Some(a)
      CommitArbiter.forStore(spark, "s3a://bucket-b/state") shouldBe Some(b)
    } finally {
      CommitArbiter.unregister("s3a://bucket-a/state")
      CommitArbiter.unregister("s3a://bucket-b/state")
    }
  }

  test("two same-path stores on one arbiter: no lease interference, no witness-cache aliasing") {
    // naf://P and nafb://P — same path, different filesystem (the
    // two-buckets shape, reproduced on local disk)
    val path = SparkFixture.tempDir("r17-samepath")
    new java.io.File(RootedNonAtomicFs.root, path).mkdirs()
    val storeA = "naf://" + path
    val storeB = "nafb://" + path
    val arb = InMemoryArbiter.named("r17-shared")
    CommitArbiter.register(storeA, arb)
    CommitArbiter.register(storeB, arb)
    try {
      // the r16 hazard, pinned dead: with path-only keys a SAME-OWNER
      // acquire on store B "retakes" (compare-and-deletes) store A's
      // LIVE lease; with qualified keys the two leases coexist
      StandingState.acquireLease(spark, storeA, "owner-x")
      StandingState.acquireLease(spark, storeB, "owner-x")
      arb.get(s"lease:${CommitArbiter.storeKey(storeA)}") should not be None
      arb.get(s"lease:${CommitArbiter.storeKey(storeB)}") should not be None
      StandingState.releaseOwnLease(spark, storeB)
      withClue("store B's release must not touch store A's live lease: ") {
        arb.get(s"lease:${CommitArbiter.storeKey(storeA)}") should not be None
      }
      arb.get(s"lease:${CommitArbiter.storeKey(storeB)}") shouldBe None
      StandingState.releaseOwnLease(spark, storeA)
      arb.get(s"lease:${CommitArbiter.storeKey(storeA)}") shouldBe None

      // full commits on both stores: identical paths, identical snapshot
      // ids — the witness cache must serve each store its OWN parse
      StandingState.writeTables(storeA, Seq(spec("t", Seq(("a", 1L)))))
      StandingState.writeTables(storeB, Seq(spec("t", Seq(("b", 2L)))))
      StandingState.readTable(spark, storeA, "t")
        .collect().map(r => (r.getString(0), r.getLong(1))).toSeq shouldBe Seq(("a", 1L))
      StandingState.readTable(spark, storeB, "t")
        .collect().map(r => (r.getString(0), r.getLong(1))).toSeq shouldBe Seq(("b", 2L))
      // both parses live under distinct qualified cache keys
      val keys = StandingState.witnessCacheKeys
      keys.count(_.startsWith(CommitArbiter.storeKey(storeA) + "#")) shouldBe 1
      keys.count(_.startsWith(CommitArbiter.storeKey(storeB) + "#")) shouldBe 1
    } finally {
      CommitArbiter.unregister(storeA)
      CommitArbiter.unregister(storeB)
    }
  }

  // ------------------------------------------------- witness-cache LRU

  test("witness cache evicts ONE least-recently-used entry past 256 stores, not the whole map") {
    // skinny hand-written witnesses: the cache is exercised without
    // paying 257 Spark commits
    def mkStore(i: Int): String = {
      val d = SparkFixture.tempDir(f"r17-lru-$i%03d")
      val snap = new java.io.File(d, "snap00000")
      snap.mkdirs()
      val w = new java.io.FileWriter(new java.io.File(snap, "_WITNESS"))
      try w.write(s"#owner=lru-$i\n") finally w.close()
      d
    }
    val stores = (0 until 258).map(mkStore)
    stores.take(257).foreach(s => StandingState.ownerOf(spark, s, 0L))
    val keys257 = StandingState.witnessCacheKeys
    keys257.size shouldBe 256
    withClue("eldest (store 0) evicted: ") {
      keys257.exists(_.startsWith(CommitArbiter.storeKey(stores(0)) + "#")) shouldBe false
    }
    withClue("store 1 still cached: ") {
      keys257.exists(_.startsWith(CommitArbiter.storeKey(stores(1)) + "#")) shouldBe true
    }
    // LRU, not FIFO: touching store 1 saves it from the next eviction
    StandingState.ownerOf(spark, stores(1), 0L)
    StandingState.ownerOf(spark, stores(257), 0L)
    val keys258 = StandingState.witnessCacheKeys
    keys258.size shouldBe 256
    keys258.exists(_.startsWith(CommitArbiter.storeKey(stores(1)) + "#")) shouldBe true
    withClue("store 2 (now eldest) evicted instead: ") {
      keys258.exists(_.startsWith(CommitArbiter.storeKey(stores(2)) + "#")) shouldBe false
    }
  }

  // ------------------------------------------------ lost-ack resolution

  test("lease putIfAbsent lost-ack resolves via read-your-own-record, anonymous owner included") {
    val store = nafStore("r17-lostack-lease")
    val fault = new FaultArbiter(InMemoryArbiter.named("r17-lostack-lease"))
    CommitArbiter.register(store, fault)
    try {
      StandingState.writeTables(store, Seq(spec("t", Seq(("a", 1L)))))
      fault.loseNextPutOn.set("lease:")
      // owner "" — the owner-retake path can never apply; only exact
      // body recognition resolves this
      StandingState.appendTables(store, Seq(spec("t", Seq(("b", 2L)))))
      StandingState.readTable(spark, store, "t").count() shouldBe 2L
      fault.get(s"lease:${CommitArbiter.storeKey(store)}") shouldBe None
    } finally CommitArbiter.unregister(store)
  }

  test("snapshot-claim putIfAbsent lost-ack resolves; the claim is still released after publish") {
    val store = nafStore("r17-lostack-claim")
    val fault = new FaultArbiter(InMemoryArbiter.named("r17-lostack-claim"))
    CommitArbiter.register(store, fault)
    try {
      StandingState.writeTables(store, Seq(spec("t", Seq(("a", 1L)))))
      fault.loseNextPutOn.set("snap:")
      StandingState.appendTables(store, Seq(spec("t", Seq(("b", 2L)))))
      StandingState.readTable(spark, store, "t").count() shouldBe 2L
      fault.get(s"snap:${CommitArbiter.storeKey(store)}:snap00001") shouldBe None
    } finally CommitArbiter.unregister(store)
  }

  test("deleteIf lost-ack during a same-owner retake still lands the retake") {
    val store = nafStore("r17-lostack-del")
    val fault = new FaultArbiter(InMemoryArbiter.named("r17-lostack-del"))
    CommitArbiter.register(store, fault)
    try {
      StandingState.writeTables(store, Seq(spec("t", Seq(("a", 1L)))), owner = "boot")
      // a crashed prior acquisition by owner "racer" left its lease record
      fault.putIfAbsent(s"lease:${CommitArbiter.storeKey(store)}",
        "racer\nde-ad\n" + System.currentTimeMillis()) shouldBe true
      // a DIFFERENT owner is refused (held, not expired) — the retake
      // path must not open to strangers
      val e = intercept[StandingState.StaleStateException] {
        StandingState.appendTables(store, Seq(spec("t", Seq(("x", 9L)))), owner = "other")
      }
      e.getMessage should include ("racer")
      // the same-owner retake, with the compare-and-delete's ack lost:
      // deleteIf APPLIES but reports false; the absent-key read resolves
      // it and the fresh putIfAbsent completes the retake — commit green
      fault.loseNextDeleteIf.set(true)
      StandingState.appendTables(store, Seq(spec("t", Seq(("b", 2L)))), owner = "racer")
      StandingState.readTable(spark, store, "t").count() shouldBe 2L
      fault.get(s"lease:${CommitArbiter.storeKey(store)}") shouldBe None
    } finally CommitArbiter.unregister(store)
  }

  // ------------------------------------------------ TTL fenced recovery

  test("crashed-writer recovery: TTL-expired lease is seized with fencing, stale claims cleared, no human involved") {
    onBothArbiters("r17-ttl") { (store, arb) =>
      StandingState.writeTables(store, Seq(spec("t", Seq(("a", 1L)))))
      val q = CommitArbiter.storeKey(store)
      // a writer that died 60 s ago: stale lease + stranded claims at
      // BOTH positions (post-rename crash leaves one at the latest
      // snapshot, pre-rename at latest+1)
      arb.putIfAbsent(s"lease:$q",
        "deadguy\nff-1\n" + (System.currentTimeMillis() - 60000L)) shouldBe true
      arb.putIfAbsent(s"snap:$q:snap00000", "deadguy\naa") shouldBe true
      arb.putIfAbsent(s"snap:$q:snap00001", "deadguy\nbb") shouldBe true
      // without the TTL conf: loud refusal, now reporting lease age and
      // naming the recovery conf
      val e = intercept[StandingState.StaleStateException] {
        StandingState.appendTables(store, Seq(spec("t", Seq(("b", 2L)))), owner = "recoverer")
      }
      e.getMessage should include ("deadguy")
      e.getMessage should include ("held for")
      e.getMessage should include ("leaseTtlMs")
      // with the TTL conf: automatic fenced recovery
      spark.conf.set("spark.graft.state.leaseTtlMs", "5000")
      try {
        StandingState.appendTables(store, Seq(spec("t", Seq(("b", 2L)))), owner = "recoverer")
      } finally spark.conf.unset("spark.graft.state.leaseTtlMs")
      StandingState.readTable(spark, store, "t").count() shouldBe 2L
      arb.get(s"lease:$q") shouldBe None
      arb.get(s"snap:$q:snap00000") shouldBe None
      arb.get(s"snap:$q:snap00001") shouldBe None
      arb.get(s"snap:$q:snap00002") shouldBe None
    }
  }

  test("a live-but-slow zombie whose lease was seized is refused at its commit point, fenced by the lease recheck") {
    val store = nafStore("r17-zombie")
    val fault = new FaultArbiter(InMemoryArbiter.named("r17-zombie"))
    CommitArbiter.register(store, fault)
    try {
      StandingState.writeTables(store, Seq(spec("t", Seq(("base", 0L)))))
      fault.armClaimGate.set(true)
      val zombieErr = new AtomicReference[Throwable](null)
      val zombie = new Thread(() => {
        try StandingState.appendTables(store,
          Seq(StandingState.TableSpec("t",
            Seq(("zombie", 1L)).toDF("k", "v"), "k")), owner = "zombie")
        catch { case t: Throwable => zombieErr.set(t) }
      }, "r17-zombie-writer")
      zombie.start()
      // the zombie holds the lease and is frozen just before its claim
      fault.reachedClaim.await(60, TimeUnit.SECONDS) shouldBe true
      // its lease is now older than the TTL; a new owner seizes and commits
      spark.conf.set("spark.graft.state.leaseTtlMs", "1")
      try {
        Thread.sleep(50)
        StandingState.appendTables(store,
          Seq(StandingState.TableSpec("t",
            Seq(("rescuer", 2L)).toDF("k", "v"), "k")), owner = "rescuer")
      } finally spark.conf.unset("spark.graft.state.leaseTtlMs")
      // unfreeze the zombie: it claims the (now-published) snapshot
      // number, then the lease recheck sees a foreign/absent lease and
      // refuses BEFORE any publish attempt
      fault.claimGate.countDown()
      zombie.join(60000)
      zombie.isAlive shouldBe false
      withClue(s"zombie outcome: ${zombieErr.get()}: ") {
        zombieErr.get() shouldBe a[StandingState.StaleStateException]
      }
      zombieErr.get().getMessage should include ("lease")
      zombieErr.get().getMessage should include ("lost")
      // the zombie's refused claim was released; the store holds exactly
      // the rescuer's fold and nothing of the zombie's
      val q = CommitArbiter.storeKey(store)
      fault.get(s"snap:$q:snap00001") shouldBe None
      StandingState.readTable(spark, store, "t")
        .collect().map(_.getString(0)).sorted.toSeq shouldBe Seq("base", "rescuer")
      StandingState.snapshots(spark, store) shouldBe Seq(0L, 1L)
    } finally CommitArbiter.unregister(store)
  }

  test("breakLease clears stranded claims at BOTH the latest snapshot and latest+1") {
    onBothArbiters("r17-break") { (store, arb) =>
      StandingState.writeTables(store, Seq(spec("t", Seq(("a", 1L)))))
      val q = CommitArbiter.storeKey(store)
      // post-rename crash strands a claim at the LATEST snapshot (0);
      // pre-rename at latest+1 (1) — r16 cleared only the latter
      arb.putIfAbsent(s"lease:$q", "dead\naa\n1") shouldBe true
      arb.putIfAbsent(s"snap:$q:snap00000", "dead\nbb") shouldBe true
      arb.putIfAbsent(s"snap:$q:snap00001", "dead\ncc") shouldBe true
      StandingState.breakLease(spark, store)
      arb.get(s"lease:$q") shouldBe None
      arb.get(s"snap:$q:snap00000") shouldBe None
      arb.get(s"snap:$q:snap00001") shouldBe None
      StandingState.appendTables(store, Seq(spec("t", Seq(("b", 2L)))))
      StandingState.readTable(spark, store, "t").count() shouldBe 2L
    }
  }

  // -------------------------------------- wire-level throttle semantics

  test("DynamoArbiter retries 500s and throttles transparently; a landed-put lost ack resolves end to end") {
    val stub = new ArbiterWireStub("claims")
    val store = nafStore("r17-wire")
    CommitArbiter.register(store,
      CommitArbiter.resolve(s"dynamo://localhost:${stub.port}/claims"))
    try {
      StandingState.writeTables(store, Seq(spec("t", Seq(("a", 1L)))))
      // throttle: the next 2 writes are REFUSED without applying
      // (ProvisionedThroughputExceeded) — the arbiter's bounded retry
      // absorbs them and the commit never notices
      stub.throttleWrites.set(2)
      StandingState.appendTables(store, Seq(spec("t", Seq(("b", 2L)))))
      stub.throttleWrites.get() shouldBe 0
      // lost ack ON THE WIRE: the next put APPLIES but answers 500; the
      // retry then sees its own record as a failed condition, and the
      // protocol's read-your-own-record resolution carries the commit
      stub.loseAckWrites.set(1)
      StandingState.appendTables(store, Seq(spec("t", Seq(("c", 3L)))))
      stub.loseAckWrites.get() shouldBe 0
      StandingState.readTable(spark, store, "t").count() shouldBe 3L
    } finally {
      CommitArbiter.unregister(store)
      stub.stop()
    }
  }

  test("a throttle outlasting every retry surfaces as IOException and strands nothing") {
    val stub = new ArbiterWireStub("claims")
    val store = nafStore("r17-throttle")
    CommitArbiter.register(store,
      CommitArbiter.resolve(s"dynamo://localhost:${stub.port}/claims"))
    try {
      StandingState.writeTables(store, Seq(spec("t", Seq(("a", 1L)))))
      stub.throttleWrites.set(100) // > MaxAttempts: the write never lands
      intercept[java.io.IOException] {
        StandingState.appendTables(store, Seq(spec("t", Seq(("b", 2L)))))
      }
      stub.throttleWrites.set(0)
      // nothing half-claimed, nothing wedged: the next attempt commits
      StandingState.appendTables(store, Seq(spec("t", Seq(("b", 2L)))))
      StandingState.readTable(spark, store, "t").count() shouldBe 2L
    } finally {
      CommitArbiter.unregister(store)
      stub.stop()
    }
  }
}
