package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** Plan-shape assertions — the Spark equivalent of the reference's
  * EXPLAIN-JSON `PlanValidator` (fineo-adapter-drill/src/test/java/io/
  * fineo/read/drill/PlanValidator.java): instead of checking which files a
  * Drill plan touches, assert that Catalyst produces the physical plans
  * the 100 TB design depends on — filter/projection pushdown into parquet,
  * broadcast joins for small dims, top-k instead of global sort, and
  * partition pruning on date dirs.
  */
class PlanSpec extends AnyFunSuite with Matchers {
  private lazy val spark = SparkFixture.spark
  private val dir = "/root/testdata/sf0.001"

  /** Final physical plan, post-AQE: execute first so AdaptiveSparkPlan
    * resolves to its final stages (codegen spans, reused exchanges). */
  private def plan(df: org.apache.spark.sql.DataFrame): String = {
    df.collect()
    df.queryExecution.executedPlan.toString
  }

  /** All parquet scans in the final plan, descending through AQE wrappers
    * (AdaptiveSparkPlanExec / QueryStageExec keep their resolved plans out
    * of `children`, so a plain collect misses them). */
  private def allScans(p: org.apache.spark.sql.execution.SparkPlan)
      : Seq[org.apache.spark.sql.execution.FileSourceScanExec] = {
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    p.collectWithSubqueries {
      case f: FileSourceScanExec => Seq(f)
      case a: AdaptiveSparkPlanExec => allScans(a.executedPlan)
      case q: QueryStageExec => allScans(q.plan)
    }.flatten
  }

  test("filters and projection reach the parquet scan") {
    val p = plan(Queries.scanFilterProject(spark, dir))
    p should include("PushedFilters: [")
    p should include("GreaterThanOrEqual(l_shipdate")
    // projection pruning: the scan schema must not contain unused columns
    p should include("ReadSchema")
    p should not include "l_comment"
    p should not include "l_tax"
  }

  test("small dims broadcast; no shuffle for nation join") {
    val p = plan(Queries.joinAgg(spark, dir))
    p should include("BroadcastHashJoin")
  }

  test("top-k plans as TakeOrderedAndProject, not a global sort") {
    val p = plan(Queries.topK(spark, dir))
    p should include("TakeOrderedAndProject")
  }

  test("map-side partial aggregation before the shuffle") {
    val p = plan(Queries.aggPricing(spark, dir))
    // two HashAggregate stages (partial + final) around one exchange
    "HashAggregate".r.findAllIn(p).length should be >= 2
  }

  test("whole-stage codegen covers the recombination projection") {
    // `*(n)` prefixes in the tree string mark WholeStageCodegen stages
    val p = plan(Queries.recombineShape(spark, dir))
    p should include("*(")
  }

  test("chunking is a shuffle-free generator projection that prunes the chunk text") {
    // The 100 TB contract of TextAnalysis.chunk: explode(sequence)+substr
    // runs at scan speed — no Exchange anywhere — and a downstream select
    // that only needs offsets never materializes the chunk column.
    val chunked = graft.ops.TextAnalysis.chunk(
      Tables.load(spark, dir, "documents"), size = 200, stride = 150)
    val offsetsOnly = chunked.select("doc_id", "chunk_idx")
    val p = plan(offsetsOnly)
    p should not include "Exchange"
    p should include("Generate explode")
    // column pruning reached the scan: only doc_id + text (for lengths) read
    val scans = allScans(offsetsOnly.queryExecution.executedPlan)
    scans should have size 1
    scans.head.schema.fieldNames.toSet shouldBe Set("doc_id", "text")
  }

  test("partition pruning on date= dirs reads only matching files") {
    val tmp = SparkFixture.tempDir("prune")
    import scala.jdk.CollectionConverters._
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("timestamp", LongType), StructField("v", LongType),
      StructField("date", StringType)))
    val rows = Seq(
      org.apache.spark.sql.Row(86400000L * 0 + 5, 1L, "1970-01-01"),
      org.apache.spark.sql.Row(86400000L * 1 + 5, 2L, "1970-01-02"),
      org.apache.spark.sql.Row(86400000L * 2 + 5, 3L, "1970-01-03"))
    spark.createDataFrame(rows.asJava, schema)
      .write.mode("overwrite").partitionBy("date").parquet(tmp)
    val pruned = spark.read.parquet(tmp).filter(col("date") === "1970-01-02")
    pruned.collect().map(_.getAs[Long]("v")).toSeq shouldBe Seq(2L)
    // the scan must carry the partition filter (pruning planned) and the
    // executed scan must have touched exactly one of the three partitions
    val p = plan(pruned)
    p should include("PartitionFilters: [isnotnull(date")
    val scans = pruned.queryExecution.executedPlan.collectWithSubqueries {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }
    withClue(p) {
      scans.headOption.map(_.selectedPartitions.partitionCount) shouldBe Some(1)
      scans.head.selectedPartitions.toPartitionArray.foreach(
        _.urlEncodedPath should include("date=1970-01-02"))
    }
  }

  test("ANN bucket join moves ids only; vectors join back after candidates") {
    import graft.ops.Similarity
    val emb = Tables.load(spark, dir, "embeddings")
    val out = Similarity.lshTopK(emb, emb.filter(col("vec_id") < 3),
      "vec_id", "embedding", dim = 64, k = 3, numPlanes = 3, numBands = 2)
    out.collect()
    val scans = allScans(out.queryExecution.executedPlan)
    // the banded corpus index (the join input) carries (corpus_id,
    // band_idx, bk) — no embedding column anywhere near the bucket join
    val bandScans = scans.filter(_.schema.fieldNames.contains("bk"))
    bandScans should not be empty
    bandScans.foreach { s =>
      s.schema.fieldNames should not contain "cvec"
      s.schema.fieldNames should not contain "embedding"
    }
  }

  test("persisted IVF serving: the inverted-file scan is ids-only, centroids broadcast") {
    import graft.ops.{AnnIndex, StandingState}
    val emb = Tables.load(spark, dir, "embeddings")
    val store = SparkFixture.tempDir("plan-ann")
    AnnIndex.bootstrap(emb, "vec_id", "embedding", numCentroids = 4, store)
    val out = AnnIndex.topK(emb, emb.filter(col("vec_id") < 3),
      "vec_id", "embedding", k = 3, store, nprobe = 2)
    out.collect()
    val scans = allScans(out.queryExecution.executedPlan)
    // the standing cells file joins by cell id with NO vector column —
    // vectors re-enter only for final candidate ranking, keyed by id
    val cellScans = scans.filter(_.schema.fieldNames.contains("cell"))
    cellScans should not be empty
    cellScans.foreach { s =>
      s.schema.fieldNames should not contain "embedding"
      s.schema.fieldNames should not contain "cvec"
    }
    // the centroid table rides a broadcast, never a shuffle
    val p = out.queryExecution.executedPlan.toString
    p should include("Broadcast")
    StandingState.retire(spark, store)
  }

  test("persisted PQ serving: the code scan carries no raw vectors, codebooks broadcast") {
    import graft.ops.{AnnIndex, StandingState}
    val emb = Tables.load(spark, dir, "embeddings")
    val store = SparkFixture.tempDir("plan-pq")
    AnnIndex.bootstrapPq(emb, "vec_id", "embedding", store)
    val out = AnnIndex.pqTopK(emb, emb.filter(col("vec_id") < 3),
      "vec_id", "embedding", k = 3, store, shortlist = 10)
    out.collect()
    val scans = allScans(out.queryExecution.executedPlan)
    // the ADC scan reads the standing code table only — id + m small
    // ints, no embedding anywhere near it (the whole point of PQ at
    // 100 TB: the corpus-sized scan is over compressed codes); vectors
    // re-enter only for the shortlist rerank, keyed by id
    val codeScans = scans.filter(_.schema.fieldNames.contains("code"))
    codeScans should not be empty
    codeScans.foreach { s =>
      s.schema.fieldNames should not contain "embedding"
      s.schema.fieldNames should not contain "scv"
      s.schema.fieldNames should not contain "cvec"
    }
    // the codebook table rides a broadcast, never a shuffle
    out.queryExecution.executedPlan.toString should include("Broadcast")
    StandingState.retire(spark, store)
  }

  test("composed persisted IVFADC: cells AND codes scans both vector-free") {
    import graft.ops.{AnnIndex, StandingState}
    val emb = Tables.load(spark, dir, "embeddings")
    val ivfStore = SparkFixture.tempDir("plan-ivfadc-ivf")
    val pqStore = SparkFixture.tempDir("plan-ivfadc-pq")
    AnnIndex.bootstrap(emb, "vec_id", "embedding", numCentroids = 4, ivfStore)
    AnnIndex.bootstrapPq(emb, "vec_id", "embedding", pqStore)
    val out = AnnIndex.ivfadcTopK(emb, emb.filter(col("vec_id") < 3),
      "vec_id", "embedding", k = 3, ivfStore, pqStore, nprobe = 2, shortlist = 10)
    out.collect()
    val scans = allScans(out.queryExecution.executedPlan)
    // the billion-vector serving contract end to end: the inverted file
    // moves ids only, the ADC scan moves codes only — raw vectors enter
    // exactly twice, as the broadcast query side and the id-keyed
    // shortlist rerank
    val indexScans = scans.filter(s =>
      s.schema.fieldNames.contains("cell") || s.schema.fieldNames.contains("code"))
    indexScans should not be empty
    indexScans.foreach { s =>
      s.schema.fieldNames should not contain "embedding"
      s.schema.fieldNames should not contain "cvec"
      s.schema.fieldNames should not contain "scv"
    }
    out.queryExecution.executedPlan.toString should include("Broadcast")
    StandingState.retire(spark, ivfStore)
    StandingState.retire(spark, pqStore)
  }

  test("minhash signature index is computed once and re-read as parquet") {
    val out = PipelineQueries.dedupMinhashLsh(spark, dir)
    out.collect()
    val scans = allScans(out.queryExecution.executedPlan)
    // the signature expression tree appears in NO scan of the final plan
    // (it ran once, during the index write); the verify step reads the
    // token sets back column-pruned (h0..h3 not even fetched), and the
    // candidate join reads the banded index
    val tokScans = scans.filter(_.schema.fieldNames.contains("toks"))
    tokScans should not be empty
    tokScans.foreach(_.schema.fieldNames should not contain "h0")
    scans.exists(_.schema.fieldNames.contains("bk")) shouldBe true
    // and nothing re-reads the raw documents table in the final plan
    scans.exists(_.schema.fieldNames.contains("text")) shouldBe false
  }

  test("hamming dedup plans no cartesian product; probe join reads the fingerprint index") {
    val out = PipelineQueries.dedupSimhashHamming(spark, dir)
    out.collect()
    val p = out.queryExecution.executedPlan.toString
    p should not include "CartesianProduct"
    p should not include "BroadcastNestedLoopJoin"
    // every scan in the final plan reads the materialized fingerprint
    // index (doc_id/simhash) — the raw text is tokenized exactly once,
    // during the index write
    val scans = allScans(out.queryExecution.executedPlan)
    scans should not be empty
    scans.foreach(_.schema.fieldNames should not contain "text")
    graft.ops.Materialize.dropAll()
  }

  test("batched bm25 broadcasts the query batch; no cartesian product") {
    val out = PipelineQueries.bm25BatchQ(spark, dir)
    val p = plan(out)
    // the (query_id, tok) batch and the per-term df reach the postings
    // stream as broadcast hash joins — the postings side never shuffles
    // for them; the only nested-loop is the 1-row (N, avgdl) stats bind
    p should include ("BroadcastHashJoin")
    p should not include "CartesianProduct"
    graft.ops.Materialize.dropAll()
  }

  test("triangle wedge join is an equi-join on the oriented source; no cartesian") {
    val out = PipelineQueries.graphTriangles(spark, dir)
    val p = plan(out)
    p should not include "CartesianProduct"
    // wedge + closure joins are hash joins on (src) / (v, w) — the
    // all-pairs cosine front end is the only nested-loop, and it is the
    // deliberately-chosen oracle-scale candidate generator, vec_id < 300
    p should include ("Join")
    graft.ops.Materialize.dropAll()
  }

  test("rolling actives and cohort retention plan no data-sized windows or cartesians") {
    for (q <- Seq(PipelineQueries.rollingActiveQ(spark, dir),
                  PipelineQueries.cohortRetention(spark, dir))) {
      val p = plan(q)
      p should not include "CartesianProduct"
      // the sliding distinct is a coverage explode + partial-agg count,
      // never a window over a data-sized partition
      p should not include "Window"
    }
  }

  test("GD gate scoring is scan-side: trained weights are literals, plan has no join") {
    val out = PipelineQueries.qualityLogreg(spark, dir)
    val p = plan(out)
    // training collapsed to plan literals on the driver; scoring every
    // doc is a pure projection over one scan — no join, no hash shuffle
    // (the only exchange is the deterministic output sort's range
    // partitioning)
    p should not include "Join"
    p should not include "hashpartitioning"
  }

  test("pagerank keeper plans no cartesian product off the shared pair index") {
    val out = PipelineQueries.dedupPagerankKeeper(spark, dir)
    out.collect()
    val p = out.queryExecution.executedPlan.toString
    p should not include "CartesianProduct"
    p should not include "BroadcastNestedLoopJoin"
    graft.ops.Materialize.dropAll()
  }

  test("semantic-dedup cell self-join moves (id, cell) only; vectors join back by id") {
    val out = PipelineQueries.embedSemanticDedup(spark, dir)
    out.collect()
    val scans = allScans(out.queryExecution.executedPlan)
    // the materialized cell index feeds the pair join as (vec_id, cell) —
    // no vector bytes flow through the O(Σ cell²) candidate join
    val cellScans = scans.filter(_.schema.fieldNames.contains("cell"))
    cellScans should not be empty
    cellScans.foreach(_.schema.fieldNames should not contain "embedding")
    graft.ops.Materialize.dropAll()
  }

  test("lm score derives every count from the one materialized bigram stream") {
    val out = PipelineQueries.lmPerplexity(spark, dir)
    out.collect()
    val scans = allScans(out.queryExecution.executedPlan)
    val streamScans = scans.filter(_.schema.fieldNames.contains("b"))
    streamScans should not be empty
    // the bigram concat expression ran once, at the index write: the raw
    // documents table appears in NO scan of the scoring plan
    scans.exists(_.schema.fieldNames.contains("text")) shouldBe false
    graft.ops.Materialize.dropAll()
  }

  test("nearline hash-key filter is pushed into the stub scan") {
    val tmp = SparkFixture.tempDir("nlpush") + "/t"
    import scala.jdk.CollectionConverters._
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("partition", StringType), StructField("sort", StringType),
      StructField("ids", ArrayType(StringType)),
      StructField("f", MapType(StringType, StringType))))
    val rows = Seq(
      org.apache.spark.sql.Row("orgAm1", "100", Seq("w"), Map("w" -> "1")),
      org.apache.spark.sql.Row("orgBm1", "100", Seq("w"), Map("w" -> "2")))
    spark.createDataFrame(rows.asJava, schema).write.mode("overwrite").parquet(tmp)
    val df = graft.sources.NearlineStub.readForMetric(
      spark, graft.sources.NearlineTableDesc("t_0_200", tmp, 0, 200), "orgA",
      graft.schema.Metric("m1", "m1", Seq(graft.schema.Field("f", graft.schema.FieldType.STRING))))
    val p = plan(df)
    p should include("PushedFilters")
    p should include("EqualTo(partition,orgAm1)")
    df.collect().length shouldBe 1
  }

  test("exact all-pairs join: no cartesian; prefix index built without wide arrays") {
    val out = PipelineQueries.dedupAllpairs(spark, dir)
    val p = plan(out)
    p should not include "CartesianProduct"
    p should not include "BroadcastNestedLoopJoin"
    // the per-doc prefix rank runs as a window over skinny rows — the
    // sort_array(collect_list) form that spilled at the soak is gone
    p should not include "sort_array"
    graft.ops.Materialize.dropAll()
  }

  test("label noise: all joins keyed; nothing corpus-sized nested-loops") {
    val out = PipelineQueries.labelNoiseQ(spark, dir)
    val p = plan(out)
    p should not include "CartesianProduct"
    // centroid bind is the only broadcast nested loop (1 small table);
    // candidate/scoring joins must be hash joins
    p should include ("BroadcastHashJoin")
    graft.ops.Materialize.dropAll()
  }

  test("PRF round 2 terms reach the postings scan as a broadcast, never collected") {
    val (postings, doclens) = graft.ops.Retrieval.postingsIndex(
      Tables.load(spark, dir, "documents"), "doc_id", "text")
    val pi = graft.ops.Materialize.index(postings, "plan-prf-p")
    val li = graft.ops.Materialize.index(doclens, "plan-prf-l")
    val out = graft.ops.Retrieval.bm25Prf(pi, li, "doc_id",
      Seq("table", "query", "spark"))
    val p = plan(out)
    p should not include "CartesianProduct"
    p should include ("BroadcastHashJoin") // terms2 ⋈ postings
    graft.ops.Materialize.dropAll()
  }

  test("entity resolution: blocking passes are equi-joins; no cartesian product") {
    val out = PipelineQueries.erPairs(spark, dir)
    val p = plan(out)
    p should not include "CartesianProduct"
    // (noun, size) / (noun, brand) blocking keys join as hash joins with
    // the id inequality as a residual — never a nested loop over records
    p should not include "BroadcastNestedLoopJoin"
    p should include ("Join")
    graft.ops.Materialize.dropAll()
  }

  test("interval sweep: windows partition by day, never one data-sized partition") {
    val out = PipelineQueries.intervalCoverage(spark, dir)
    val exec = { out.collect(); out.queryExecution.executedPlan }
    import org.apache.spark.sql.execution.window.WindowExec
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    def windows(p: org.apache.spark.sql.execution.SparkPlan): Seq[WindowExec] =
      p.collectWithSubqueries {
        case w: WindowExec => Seq(w)
        case a: AdaptiveSparkPlanExec => windows(a.executedPlan)
        case q: QueryStageExec => windows(q.plan)
      }.flatten
    val sweeps = windows(exec)
    sweeps should not be empty
    // every window in the sweep carries a partition spec (day, or the
    // per-user session assignment) — an empty partitionBy would funnel
    // the whole boundary stream through one task
    sweeps.foreach(_.partitionSpec should not be empty)
  }

  test("kmv pairwise: the only nested loop is vs the tiny group list; sketch joins bounded") {
    val sk = graft.ops.Kmv.sketch(
      Tables.load(spark, dir, "documents")
        .select(col("source"), explode(split(lower(col("text")), " ")).as("word")),
      "source", "word", k = 64)
    val out = graft.ops.Kmv.pairwise(
      graft.ops.Materialize.index(sk, "plan-kmv"), "source", k = 64)
    val p = plan(out)
    p should not include "CartesianProduct"
    graft.ops.Materialize.dropAll()
  }

  test("modularity: endpoint-community joins are hash joins; m binds as a 1-row broadcast") {
    val out = PipelineQueries.graphModularity(spark, dir)
    val p = plan(out)
    p should include ("BroadcastHashJoin")
    // the only nested loop allowed is the 1-row m scalar bind
    p should not include "CartesianProduct"
  }

  test("gate ensemble: all three gates fuse into ONE corpus scan, zero joins") {
    // the r9 shape scanned the corpus three times and joined by doc_id;
    // fused, the census is one scan + one partial-agg groupBy — at 100 TB
    // that is one pass instead of three passes plus two corpus-sized joins
    val df = PipelineQueries.gateEnsemble(spark, dir)
    val exec = { df.collect(); df.queryExecution.executedPlan }
    allScans(exec).length shouldBe 1
    val p = exec.toString
    p should not include "Join"
    p should not include "CartesianProduct"
  }

  test("caption join never reads the binary payload: asset scan prunes `content`") {
    // the 100 TB multimodal contract: metadata predicates + caption joins
    // move META, not media — the materialized asset table's scan must
    // project meta only (parquet BYTE_ARRAY payload stays on disk)
    val df = PipelineQueries.multimodalCaptionJoin(spark, dir)
    val exec = { df.collect(); df.queryExecution.executedPlan }
    val assetScans = allScans(exec).filter(_.schema.fieldNames.contains("meta"))
    assetScans should not be empty
    assetScans.foreach(_.schema.fieldNames should not contain "content")
  }

  test("asset manifest: no cartesian products; keeper/caption joins all keyed") {
    val df = PipelineQueries.pipelineAssetManifest(spark, dir)
    val exec = { df.collect(); df.queryExecution.executedPlan }
    val p = exec.toString
    p should not include "CartesianProduct"
    p should not include "BroadcastNestedLoopJoin"
  }

  test("incremental asset manifest: no cartesian products; delta probes stay keyed") {
    // the nightly-delta path must keep the same join discipline as the
    // full recompute: cross-set candidates key on the block-probe column,
    // cluster merge and manifest joins key on ids — nothing all-pairs
    val df = PipelineQueries.pipelineAssetManifestIncremental(spark, dir)
    val exec = { df.collect(); df.queryExecution.executedPlan }
    val p = exec.toString
    p should not include "CartesianProduct"
    p should not include "BroadcastNestedLoopJoin"
  }

  test("mismatch gate: one shuffle-free scoring join, no cartesian") {
    val df = PipelineQueries.multimodalMismatch(spark, dir)
    val exec = { df.collect(); df.queryExecution.executedPlan }
    val p = exec.toString
    p should not include "CartesianProduct"
    p should not include "BroadcastNestedLoopJoin"
  }

  test("semantic decontamination: eval side broadcasts; no unbroadcast cartesian") {
    val df = PipelineQueries.embedDecontaminate(spark, dir)
    val exec = { df.collect(); df.queryExecution.executedPlan }
    val p = exec.toString
    // the |train| x |eval| scoring pass is BY DESIGN a broadcast nested
    // loop against the eval-sized side — the one join shape that reads
    // the training corpus exactly once with nothing corpus-sized shuffled
    p should include("BroadcastNestedLoopJoin")
    p should not include "CartesianProduct"
  }

  test("delta decontamination: benchmark-sized sides broadcast; no unbroadcast cartesian") {
    val df = PipelineQueries.decontamEvalDelta(spark, dir)
    val exec = { df.collect(); df.queryExecution.executedPlan }
    val p = exec.toString
    // both cosine channels are the broadcast-NLJ eval-scoring shape; the
    // gram channels broadcast the benchmark gram sets — the standing
    // corpus is never the build side and never cartesian-paired
    p should include("BroadcastNestedLoopJoin")
    p should not include "CartesianProduct"
  }

  test("decontam matrix: eval-sided structures broadcast; no unbroadcast cartesian") {
    val df = PipelineQueries.pipelineDecontamMatrix(spark, dir)
    val exec = { df.collect(); df.queryExecution.executedPlan }
    val p = exec.toString
    // the cosine channel is the embed_decontaminate broadcast-NLJ shape;
    // the gram/band channels join on keys with eval sides broadcast —
    // nothing in the composition may degrade to an unbroadcast cartesian
    p should include("BroadcastNestedLoopJoin")
    p should not include "CartesianProduct"
  }

  test("gate agreement fuses both gates into one scan, zero joins") {
    val df = PipelineQueries.evalGateAgreement(spark, dir)
    val exec = { df.collect(); df.queryExecution.executedPlan }
    allScans(exec).length shouldBe 1
    exec.toString should not include "Join"
  }

  test("ledger chain: serves from materialized suite-flag indexes; no cartesian") {
    val df = PipelineQueries.decontamLedgerChain(spark, dir)
    val exec = { df.collect(); df.queryExecution.executedPlan }
    val p = exec.toString
    // the three suite sweeps land in SHARED materialized flag indexes
    // (their broadcast-NLJ build shape is pinned on decontam_eval_delta's
    // identical sweep); the chain's serving plan is pure id-keyed joins
    // over those skinny tables — one scan for the train ids plus one per
    // suite index, nothing cartesian
    p should not include "CartesianProduct"
    p should not include "BroadcastNestedLoopJoin"
    allScans(exec).length shouldBe 4
    graft.ops.Materialize.dropAll()
  }

  test("video keeper: keyed joins only — no cartesian, no data-sized windows") {
    val df = PipelineQueries.multimodalVideoKeeper(spark, dir)
    val exec = { df.collect(); df.queryExecution.executedPlan }
    val p = exec.toString
    // candidates come from the fingerprint inverted index, the keeper is
    // a min-of-struct aggregate, and member offsets join on
    // (keeper, asset_id) — nothing all-pairs anywhere in the composition
    p should not include "CartesianProduct"
    p should not include "BroadcastNestedLoopJoin"
    graft.ops.Materialize.dropAll()
  }

  test("nightly manifest: the persisted standing state keeps delta work delta-sized") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    // night-2 ingest reads (standing fp, standing clusters, delta assets);
    // pin the seam by shape: the ingest's pair probe must scan the
    // PERSISTED fingerprint table, not re-derive it from payloads
    val root = SparkFixture.tempDir("planspec-standing")
    import spark.implicits._
    val texts = (1L to 12L).map(i => i -> s"planspec payload number $i with words " * 2)
    def assetsOf(ts: Seq[(Long, String)]) =
      graft.ops.Multimodal.assetsFromText(ts.toDF("id", "txt"), "id", "txt")
    graft.ops.StandingState.bootstrap(assetsOf(texts.filter(_._1 % 3 != 0)), root)
    val standingFp = graft.ops.StandingState.readFingerprints(spark, root)
    val scans = allScans {
      standingFp.collect(); standingFp.queryExecution.executedPlan
    }
    scans should have size 1
    // witness-verified scan reads the compacted standing table itself
    scans.head.metadata("Location") should include(root)
    graft.ops.Materialize.dropAll()
  }

  test("length-matched sampling: ranked cut windows carry the bucket partition") {
    val out = PipelineQueries.sampleLengthMatched(spark, dir)
    val exec = { out.collect(); out.queryExecution.executedPlan }
    import org.apache.spark.sql.execution.window.WindowExec
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    def windows(p: org.apache.spark.sql.execution.SparkPlan): Seq[WindowExec] =
      p.collectWithSubqueries {
        case w: WindowExec => Seq(w)
        case a: AdaptiveSparkPlanExec => windows(a.executedPlan)
        case q: QueryStageExec => windows(q.plan)
      }.flatten
    val ws = windows(exec)
    ws should not be empty
    ws.foreach(_.partitionSpec should not be empty)
  }
}
