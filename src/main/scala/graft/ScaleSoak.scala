package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.graftshim.GraftSessions
import org.apache.spark.sql.functions._

/** Scale soak of the flagship curation path (minhash-LSH → transitive
  * components → quality gate → decontaminate → token budget/pack) at
  * ~10× the bench corpus — the measured scaling point behind the
  * 100 TB design claims.
  *
  * The driver ships no sf1 test data, so the soak scales the LARGEST
  * driver corpus (sf0.1) by unioning R in-plan replicas with disjoint,
  * re-keyed id spaces and per-replica text salting (a replica marker
  * prepended to each text). Re-keying keeps every replica a distinct
  * document population: near-dup structure within each replica matches
  * the base corpus, the salt keeps replicas from being trivial exact
  * dups of each other, and NOTHING under /root/testdata is written or
  * modified — the replication is a plan-side `unionAll` over the same
  * parquet scan.
  *
  * Prints ONE JSON line: per-stage seconds, row counts, and the
  * replica factor, plus the same physical sanity counters the bench
  * records (spill bytes must stay 0).
  *
  * Usage: SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 runMain graft.ScaleSoak [replicas]
  */
object ScaleSoak {
  def main(args: Array[String]): Unit = {
    val replicas = args.headOption.map(_.toInt).getOrElse(10)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSessions.builder().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.functions.GraftExtensions.register(spark)

    val base = Tables.load(spark, sfDir, "documents")
    val maxId = base.agg(max("doc_id")).head().getLong(0) + 1
    val scaled = (0 until replicas).map { i =>
      base.select(
        (col("doc_id") + lit(i * maxId)).as("doc_id"),
        concat(lit(s"r$i "), col("text")).as("text"),
        col("lang"), col("source"), col("n_chars"))
    }.reduce(_ unionAll _)

    val profile = QueryProfile.attach(spark)
    // task-end events arrive asynchronously: drain before every read, or
    // spill from a stage's last tasks lands on the next stage (or on none)
    def spill(): Long = {
      GraftSessions.drainListenerBus(spark)
      profile.snapshot.spillBytes
    }

    val stages = scala.collection.mutable.LinkedHashMap[String, Double]()
    val counts = scala.collection.mutable.LinkedHashMap[String, Long]()
    def timed[A](name: String)(f: => A): A = {
      val s0 = spill()
      val t0 = System.nanoTime()
      val r = f
      stages(name) = (System.nanoTime() - t0) / 1e9
      // per-stage spill attribution: a nonzero battery-level spill must
      // name its stage or the record can't adjudicate it
      val ds = spill() - s0
      if (ds > 0) counts(s"spill_$name") = ds
      r
    }

    // SPARK_GRAFT_SOAK_ONLY=ann skips the text stages (1–21) and runs
    // only the vector-scale ANN stage (22) — the knob that makes the
    // 100×-replica decade (1.6M vectors) runnable without paying the
    // text battery at a scale it was never meant for
    val annOnly = sys.env.get("SPARK_GRAFT_SOAK_ONLY").contains("ann")
    if (!annOnly) {
    // the corpus is consumed by several stages — materialize the scaled
    // union once, exactly as a lake pipeline would land its input
    val docs = timed("materialize_input") {
      val d = graft.ops.Materialize.index(scaled, "soak-docs")
      counts("input_rows") = d.count()
      d
    }

    // 1. minhash-LSH candidates + exact-Jaccard verify
    val pairs = timed("lsh_verify") {
      val sigs = graft.ops.Dedup.minhashSignatures(docs, "text", numHashes = 4)
      val tok = graft.ops.Materialize.index(
        docs.select(col("doc_id"),
          array_distinct(split(lower(col("text")), " ")).as("toks")),
        "soak-toks")
      val bands = graft.ops.Dedup.lshBands(sigs, numHashes = 4, rowsPerBand = 2)
      val cand = graft.ops.Dedup.lshCandidatePairs(
        bands.select(col("doc_id"), col("band0"), col("band1")), "doc_id", numBands = 2)
      val verified = graft.ops.Materialize.index(
        graft.ops.Dedup.verifyPairsTok(cand, tok, "doc_id", threshold = 0.5),
        "soak-pairs")
      counts("verified_pairs") = verified.count()
      verified
    }

    // 1b. EXACT all-pairs similarity join (prefix filtering) over the
    // word-BIGRAM gram sets — the ground-truth path beside LSH:
    // candidate volume must track true pair volume (rarest-gram
    // prefixes keep common grams out of the inverted index; the size
    // filter prunes cross-length pairs), not corpus². The gram choice
    // is load-bearing: a first soak over UNIGRAM sets found 9.2M of
    // 12.5M possible pairs ≥ 0.5 at 1× — when the predicate itself is
    // near-vacuous the truth is quadratic and no exact algorithm
    // survives; bigram baseline ~0.02 keeps the truth output-sized.
    // Gated at replicas ≤ 3: salted replicas of one base doc are TRUE
    // near-dups of each other, so the truth pair set is quadratic in the
    // replica factor BY CONSTRUCTION (256 pairs at 1× → 17,304 at 3×) —
    // past 3× the stage's wall clock measures the output's size, not the
    // algorithm (an exact join cannot emit fewer pairs than exist). The
    // 1×→3× points carry the structural claim: candidates track truth,
    // zero spill, and the stage stays within ~an order of the LSH pass.
    if (replicas <= 3) timed("allpairs_exact") {
      counts("allpairs_pairs") = graft.ops.Dedup.allPairsJaccardTok(
        graft.ops.Dedup.bigramMd5Tok(docs, "doc_id", "text"),
        "doc_id", threshold = 0.5, hexTokens = true).count()
    }

    // 2. transitive closure → cluster keepers
    val drops = timed("components") {
      val cl = graft.ops.Materialize.index(
        graft.ops.Cluster.dupClusters(pairs.select("id_a", "id_b")), "soak-clusters")
      counts("clustered_docs") = cl.count()
      cl.filter(col("doc_id") =!= col("cluster")).select("doc_id")
    }

    // 3. quality gate + dedup-drop join
    val gated = timed("quality_gate") {
      val kept = docs.join(drops, Seq("doc_id"), "left_anti")
      val g = graft.ops.Materialize.index(
        graft.ops.TextAnalysis.gopherSignals(kept)
          .filter(col("passes"))
          .select("doc_id", "lang", "source", "text"), "soak-gated")
      counts("gated_rows") = g.count()
      g
    }

    // 4. decontaminate against the src0 slice
    val clean = timed("decontaminate") {
      val cleanIds = graft.ops.TextAnalysis.contamination(
          train = gated.filter(col("source") =!= "src0"),
          bench = docs.filter(col("source") === "src0"),
          shingleWords = 8)
        .filter(!col("contaminated"))
        .select("doc_id")
      val c = graft.ops.Materialize.index(
        gated.join(cleanIds, "doc_id"), "soak-clean")
      counts("clean_rows") = c.count()
      c
    }

    // 5. token-budget selection (distributed cumsum path)
    timed("budget_pack") {
      val packed = graft.ops.Curation.budgetSelect(
        clean.withColumn("n_toks",
          size(split(lower(col("text")), " ")).cast("long")),
        idCol = "doc_id", scoreCol = "n_toks", tokensCol = "n_toks",
        budget = counts("clean_rows") * 64) // ~half the corpus by tokens
      counts("budget_rows") = packed.count()
    }

    // 6. 64-bit simhash hamming dedup — block-key candidates must stay
    // output-sized as the corpus replicates (the 16-bit width grew
    // ~quadratically here; 64-bit pair volume tracks true near-dups)
    val hammingPairs = timed("simhash_hamming") {
      val p = graft.ops.Materialize.index(
        graft.ops.Dedup.simhashHammingPairs(docs, "doc_id", "text")
          .select("id_a", "id_b"), "soak-hamming-pairs")
      counts("simhash_pairs") = p.count()
      p
    }

    // 6c. graph kernels over the hamming pair graph: at 10x the pair list
    // is ~900x — the degree-ordered wedge join must stay O(m^1.5) and the
    // k-core peel must converge without the edge list ever re-deriving
    timed("graph_kernels") {
      counts("triangle_rows") = graft.ops.Cluster.triangles(hammingPairs).count()
      counts("kcore_rows") = graft.ops.Cluster.kCore(hammingPairs, k = 2).count()
    }

    // 6b. ingest-time near-dup novelty: odd-id half as the "new batch"
    // against the even-id half as the standing corpus — the cross-set
    // block join must stay candidate-sized as both sides replicate
    timed("simhash_novelty") {
      counts("novelty_rows") = graft.ops.Dedup.simhashNovelty(
        docs.filter(col("doc_id") % 2 === 1),
        docs.filter(col("doc_id") % 2 === 0),
        "doc_id", "text").count()
    }

    // 7. capped inverted index — the two-phase champion cap keeps the
    // per-term global window bounded even for stop words with df ≈ N
    timed("inverted_index") {
      counts("index_terms") =
        graft.ops.Retrieval.invertedIndex(docs, "doc_id", "text").count()
    }

    // 8. BM25 served from the materialized postings index (build + probe:
    // the probe must stay cheap — a pushed tok IN scan over the postings)
    val (pIdx, lIdx) = timed("bm25_indexed") {
      val (postings, doclens) =
        graft.ops.Retrieval.postingsIndex(docs, "doc_id", "text")
      val pi = graft.ops.Materialize.index(postings, "soak-postings")
      val li = graft.ops.Materialize.index(doclens, "soak-doclens")
      counts("bm25_rows") = graft.ops.Retrieval.bm25FromIndex(
        pi, li, "doc_id", Seq("table", "query", "spark")).count()
      (pi, li)
    }

    // 8b. batched BM25 off the same index — the stop-wordy probe (q3)
    // matches ~every doc, so its candidate set replicates with the
    // corpus; the two-phase per-key top-k must keep the cut bounded
    timed("bm25_batch") {
      import spark.implicits._
      val queries = Seq(
        (1L, "table"), (1L, "query"), (2L, "spark"), (2L, "data"),
        (3L, "the"), (3L, "of")).toDF("query_id", "tok")
      counts("bm25_batch_rows") =
        graft.ops.Retrieval.bm25Batch(pIdx, lIdx, "doc_id", queries).count()
    }

    // 9. GD quality-gate training: 3 full-corpus gradient passes (one
    // partial-agg each) + scan-side scoring with literal weights — the
    // iterative-ML stage whose wall must track corpus size, not rounds²
    timed("logreg_train") {
      // features materialize once — each GD round scans the skinny
      // matrix, not the corpus text
      val f = graft.ops.Materialize.index(
        graft.ops.TextAnalysis.qualityStats(docs)
          .select(col("doc_id"), lit(1.0).as("x0"),
            (col("n_words").cast("double") / lit(100.0)).as("x1"),
            col("distinct_ratio").as("x2"),
            (col("mean_word_len") / lit(10.0)).as("x3"),
            when(col("source") === "src0", lit(1.0)).otherwise(lit(0.0)).as("y")),
        "soak-logreg-feats")
      counts("logreg_rows") =
        graft.ops.Classify.logisticGd(f, "doc_id", dims = 4).count()
    }

    // 10. winnow fingerprint containment with the MOSS df-cap: the cap
    // bounds every self-join bucket at maxDf rows no matter how the
    // corpus grows — without it a boilerplate fingerprint's bucket is
    // corpus-sized. Pair volume is construction-quadratic in replicas
    // (salted replicas of one base doc are TRUE near-dups, same caveat
    // as allpairs_exact) — the claim here is zero spill and capped
    // buckets, not pair count.
    timed("winnow_capped") {
      counts("winnow_pairs") = graft.ops.Dedup.cdcOverlapPairs(
        graft.ops.Dedup.winnowFingerprints(docs, "doc_id", "text", k = 8, w = 4)
          .withColumnRenamed("fp", "chunk_md5"),
        "doc_id", threshold = 0.5, maxDf = 64).count()
    }

    // 11. KMV sketches + pairwise overlap: the sketch build scans the
    // corpus once; everything after is k-row-per-group arithmetic, so
    // the pairwise stage's cost must be FLAT as the corpus replicates
    timed("kmv_overlap") {
      val sk = graft.ops.Materialize.index(
        graft.ops.Kmv.sketch(
          docs.select(col("source"),
            explode(split(lower(col("text")), " ")).as("word")),
          "source", "word", k = 256),
        "soak-kmv")
      counts("kmv_pairs") = graft.ops.Kmv.pairwise(sk, "source", k = 256).count()
    }

    // 12. modularity of the source partition on the hamming pair graph:
    // two endpoint joins + partial aggs — cost tracks |edges|, and the
    // edge list is the already-materialized hamming index
    timed("modularity") {
      counts("modularity_rows") = graft.ops.Cluster.modularity(
        hammingPairs, docs.select(col("doc_id"), col("source")),
        "doc_id", "source").count()
    }

    // 13. interval sweep over sessions from a replica-scaled event log
    // (users re-keyed per replica): per-day boundary volume grows with
    // the corpus but each day's window partition stays day-bounded —
    // bucket granularity is the documented parallelism knob
    timed("interval_sweep") {
      val ev = Tables.load(spark, sfDir, "events")
      val maxUser = ev.agg(max("user_id")).head().getLong(0) + 1
      val scaledEv = (0 until replicas).map { i =>
        ev.select((col("user_id") + lit(i * maxUser)).as("user_id"),
          col("ts"), col("event_id"))
      }.reduce(_ unionAll _)
      counts("sweep_days") = graft.ops.Intervals.dailyCoverage(
        graft.ops.Sessionize.sessions(scaledEv,
          key = "user_id", tsCol = "ts", idCol = "event_id", gapSeconds = 21600),
        "start_ts", "end_ts").count()
    }

    // 14. entity resolution over a replica-scaled part catalog. Gated
    // at replicas ≤ 3 for the same by-construction reason as
    // allpairs_exact: re-keyed replicas of one part row are IDENTICAL
    // records, so every block's candidate count grows ×R² — the stage
    // measures blocking-ER's Σ|block|² shape, and the claim carried is
    // zero spill with candidates tracking block volume.
    if (replicas <= 3) timed("entity_resolution") {
      val parts = Tables.load(spark, sfDir, "part")
      val maxPk = parts.agg(max("p_partkey")).head().getLong(0) + 1
      val scaledParts = (0 until replicas).map { i =>
        parts.select((col("p_partkey") + lit(i * maxPk)).as("p_partkey"),
          col("p_name"), col("p_brand"), col("p_type"), col("p_size"),
          col("p_retailprice"))
      }.reduce(_ unionAll _)
      counts("er_entities") = graft.ops.Linkage.entities(scaledParts).count()
    }

    // 15. perceptual-hash dedup over the scaled corpus: fingerprints are
    // one scan-side projection (cost linear in bytes), candidates ride
    // the 3-block keys. The replica salt SHIFTS every block boundary
    // (length changes), so replicas are NOT payload near-dups — pair
    // volume stays ~flat and the stage measures the candidate machinery,
    // not output size.
    timed("phash_pairs") {
      counts("phash_pairs") = graft.ops.Multimodal.phashPairs(
        graft.ops.Multimodal.assetsFromText(docs, "doc_id", "text")).count()
    }

    // 16. bitext margin mining with the Y-language corpus scaled R×
    // (re-keyed ids, per-replica vector ROTATION — norm-preserving but
    // direction-changing, so replicas are distinct neighbors): the
    // forward search is a broadcast-queries scan over Y (linear in R);
    // the backward pass touches only the bounded candidate set.
    timed("bitext_margin") {
      val emb = Tables.load(spark, sfDir, "embeddings")
      val maxV = emb.agg(max("vec_id")).head().getLong(0) + 1
      val x = emb.filter(col("vec_id") % 2 === 0)
      val yScaled = (0 until replicas).map { i =>
        val rot = i % 64
        emb.filter(col("vec_id") % 2 === 1).select(
          (col("vec_id") + lit(i * maxV)).as("vec_id"),
          expr(s"concat(slice(embedding, ${rot + 1}, ${64 - rot}), slice(embedding, 1, $rot))")
            .as("embedding"))
      }.reduce(_ unionAll _)
      counts("bitext_pairs") = graft.ops.Similarity.bitextMarginMine(
        xQueries = x.filter(col("vec_id") < 400), xCorpus = x,
        yCorpus = yScaled, idCol = "vec_id", vecCol = "embedding", k = 4).count()
    }

    // 17. dHash gradient pairs over the same scaled corpus: identical
    // scan-side/candidate shape as phash_pairs (stage 15) — the claim is
    // that the second fingerprint family doubles scan-projection work,
    // never candidate volume (both families ride the same block keys).
    timed("dhash_pairs") {
      counts("dhash_pairs") = graft.ops.Multimodal.dhashPairs(
        graft.ops.Multimodal.assetsFromText(docs, "doc_id", "text")).count()
    }

    // 18a/18b. incremental manifest maintenance at scale, split the way
    // production is split: the STANDING STATE (base fingerprints → pairs
    // → component assignment) is built nightly once — its cost tracks
    // the base corpus and is timed separately; the INCREMENTAL FOLD
    // (delta fingerprints, cross-set block probes into the standing
    // index, delta-sized merge closure, relabel join) is the recurring
    // per-batch cost and must NOT scale with the base — that's the claim
    // this stage times. The LAST replica is the delta batch (midway
    // split at 1x, where there is no replica boundary).
    val cut = if (replicas > 1) (replicas - 1).toLong * maxId else maxId / 2
    val mkAssets = (d: org.apache.spark.sql.DataFrame) =>
      graft.ops.Multimodal.assetsFromText(d, "doc_id", "text")
    val standing = timed("standing_state") {
      val baseDocs = docs.filter(col("doc_id") < cut)
      val baseAssets = mkAssets(baseDocs)
      val basePairs = graft.ops.Multimodal.phashPairs(baseAssets).select("id_a", "id_b")
      val comp = graft.ops.Materialize.index(
        graft.ops.Cluster.dupClusters(basePairs).select("doc_id", "cluster"),
        "soak-standing-comp")
      counts("standing_nodes") = comp.count()
      (baseAssets, comp)
    }
    timed("incremental_merge") {
      val deltaDocs = docs.filter(col("doc_id") >= cut)
      val deltaPairs = graft.ops.Multimodal
        .phashPairsDelta(mkAssets(deltaDocs), standing._1).select("id_a", "id_b")
      counts("incremental_nodes") =
        graft.ops.Cluster.mergeClusters(standing._2, deltaPairs).count()
    }

    // 18b. PERSISTED nightly ingest (StandingState): the same base/delta
    // split, but the standing state crosses a real write/read boundary —
    // the production seam the in-memory stage above only models. The
    // bootstrap (base-sized, paid once per corpus) is timed separately
    // from the RECURRING nightly ingest, whose wall AND write volume
    // must stay ~flat as the base grows R× while the delta stays
    // one-replica-sized: fingerprint math touches only delta payloads,
    // the block probe keys on buckets, the fold contracts to
    // delta-cluster edges, and the snapshot commit APPENDS only the
    // delta partitions (nightly_write_bytes is the committed snapshot's
    // own data — at R× base it must track the delta, not the base;
    // nightly_base_bytes records the bootstrap write for the ratio).
    val nightlyRoot = graft.ops.Materialize.scratchDir("soak-night0")
    timed("nightly_bootstrap") {
      graft.ops.StandingState.bootstrap(
        mkAssets(docs.filter(col("doc_id") < cut)), nightlyRoot)
    }
    counts("nightly_base_bytes") =
      graft.ops.StandingState.snapshotDataBytes(spark, nightlyRoot, 0L)
    timed("nightly_ingest") {
      counts("nightly_nodes") = graft.ops.StandingState.ingest(
        mkAssets(docs.filter(col("doc_id") >= cut)), nightlyRoot).count()
    }
    counts("nightly_write_bytes") = graft.ops.StandingState.snapshotDataBytes(
      spark, nightlyRoot,
      graft.ops.StandingState.latestSnapshot(spark, nightlyRoot))

    // 19. cross-modal mismatch gate over the scaled corpus: two scan-side
    // token profiles + one id-keyed join — cost linear in bytes, the
    // fixed-point scoring rides whole-stage codegen.
    timed("mismatch_gate") {
      val caps = docs.select(col("doc_id").as("asset_id"),
        expr("array_join(slice(split(text, ' '), 1, 10), ' ')").as("caption"))
      counts("mismatch_flags") = graft.ops.Multimodal.captionAgreement(
        graft.ops.Multimodal.assetsFromText(docs, "doc_id", "text"), caps)
        .filter(col("mismatch")).count()
    }

    // 20. semantic decontamination at scale: the eval suite is FIXED
    // (eval sets don't grow with the training corpus) and BROADCASTS;
    // the training side is scaled R× with per-replica vector rotation
    // (distinct directions, so natural scores stay under the gate) plus
    // one planted ×2-scaled eval copy batch PER replica (leak count
    // grows linearly — output-sized by construction). The claim: wall
    // clock is ONE train pass, linear in R, nothing corpus-sized
    // shuffled — the broadcast nested loop partial-maxes map-side.
    timed("semantic_decontam") {
      val emb = Tables.load(spark, sfDir, "embeddings")
      val maxV = emb.agg(max("vec_id")).head().getLong(0) + 1
      val evalSet = emb.filter(col("vec_id") % 19 === 0)
        .select(expr("transform(embedding, x -> cast(x AS double))").as("ev"))
      val trainScaled = (0 until replicas).map { i =>
        val rot = i % 64
        val nat = emb.filter(col("vec_id") % 19 =!= 0).select(
          (col("vec_id") + lit(i * maxV)).as("vec_id"),
          expr(s"transform(concat(slice(embedding, ${rot + 1}, ${64 - rot}), slice(embedding, 1, $rot)), x -> cast(x AS double))")
            .as("v"))
        val leaks = emb.filter(col("vec_id") % 38 === 0).select(
          (col("vec_id") + lit(i * maxV) + lit(replicas * maxV)).as("vec_id"),
          expr("transform(embedding, x -> cast(x AS double) * 2.0D)").as("v"))
        nat.unionAll(leaks)
      }.reduce(_ unionAll _)
      counts("semantic_flags") = trainScaled
        .crossJoin(broadcast(evalSet))
        .groupBy("vec_id")
        .agg(max(graft.ops.Similarity.cosine(col("v"), col("ev"))).as("mx"))
        .filter(col("mx") >= 0.9).count()
    }

    // 21. suite-growth decontamination: the standing eval SUITE is what
    // grows in production (every published benchmark joins it) while
    // each nightly delta stays benchmark-sized. Replica 0 is the
    // original v1 benchmark; replicas 1..R-1 are word-salted (every
    // gram distinct, a genuinely different past benchmark). The
    // operational claim behind decontam_eval_delta, measured: the full
    // re-sweep pays the grown union's gram set (wall grows with R), the
    // incremental delta sweep is CONSTANT in R, and the flag counts
    // agree at every R (salted benchmarks share no grams with train —
    // the union-decomposed ledger OR loses nothing).
    val trainDocs = base.filter(col("source") =!= "src0"
      && !(col("source") === "src1" && col("doc_id") % 3 === 0))
    val deltaBench = base.filter(col("source") === "src1" && col("doc_id") % 3 === 0)
      .select(col("text"))
    timed("decontam_full_resweep") {
      val suite = (0 until replicas).map { i =>
        val b = base.filter(col("source") === "src0")
        if (i == 0) b.select(col("text"))
        else b.select(expr(
          s"concat_ws(' ', transform(split(lower(text), ' '), w -> concat('b${i}_', w)))")
          .as("text"))
      }.reduce(_ unionAll _)
      counts("resweep_flags") = graft.ops.TextAnalysis.contamination(
          trainDocs, suite.unionAll(deltaBench), shingleWords = 8)
        .filter(col("n_hits") >= 1).count()
    }
    timed("decontam_delta_sweep") {
      counts("delta_flags") = graft.ops.TextAnalysis.contamination(
          trainDocs, deltaBench, shingleWords = 8)
        .filter(col("n_hits") >= 1).count()
    }
    } // end !annOnly (text stages 1–21)

    // 22. PERSISTED-ANN serving at vector scale: the IVFADC 100 TB
    // claims rested on plan pins + the text-corpus soak; this stage
    // measures them on the EMBEDDING side at vreplicas = 8·replicas
    // (16k → 160k vectors across the soak's three runs). Replica i > 0
    // is a re-keyed PERTURBED copy of the base (embedding + εᵢ·rolled,
    // εᵢ = 0.05·i/R — all vectors distinct, every base vector gains
    // vreplicas−1 planted near-dups at cosine ≈ 0.999 spread across
    // replicas): the driver's synthetic embeddings are isotropic
    // (nearest-neighbor cosine ~0.45 — on such data ANY sublinear
    // index's recall equals its probed fraction, an information bound,
    // not an engine property), so the soak plants the cluster
    // structure a real embedding corpus has and recall@5 measures the
    // index retrieving it. The claims, each recorded: (a) bootstrap is
    // the only corpus-sized pass (timed apart); (b) the nightly ingest
    // folds ONE replica against both standing stores — wall tracks the
    // delta; (c) IVF and composed-IVFADC SERVING of a fixed 16-query
    // batch stay ~FLAT as the corpus grows 10× — centroids scale with
    // the corpus (8·vreplicas cells ⇒ ~candidates/query constant), the
    // probed-cell zone census keeps the cells read probe-sized
    // (ann_cells_files_read vs _total), ADC/rerank touch only
    // candidate rows; (d) recall@5 vs the exact brute scan is FLAT at
    // every scale for both serving paths (the brute scan is the honest
    // linear baseline, timed apart as ann_brute).
    val vreplicas = 8 * replicas
    val embBase = Tables.load(spark, sfDir, "embeddings")
    val maxVec = embBase.agg(max("vec_id")).head().getLong(0) + 1
    val embScaled = (0 until vreplicas).map { i =>
      val rot = (i % 63) + 1
      val eps = 0.05 * i / vreplicas
      embBase.select((col("vec_id") + lit(i.toLong * maxVec)).as("vec_id"),
        (if (i == 0) expr("transform(embedding, x -> cast(x AS double))")
         else expr(
          s"zip_with(embedding, concat(slice(embedding, ${rot + 1}, ${64 - rot}), slice(embedding, 1, $rot)), " +
            s"(a, b) -> cast(a AS double) + ${eps}D * cast(b AS double))"))
          .as("embedding"))
    }.reduce(_ unionAll _)
    val vecCut = (vreplicas - 1).toLong * maxVec
    val annBase = graft.ops.Materialize.index(
      embScaled.filter(col("vec_id") < vecCut), "soak-ann-base")
    val annDelta = embScaled.filter(col("vec_id") >= vecCut)
    val nCells = 8 * vreplicas
    val ivfRoot = graft.ops.Materialize.scratchDir("soak-ann-ivf")
    val pqRoot = graft.ops.Materialize.scratchDir("soak-ann-pq")
    timed("ann_bootstrap") {
      counts("ann_base_rows") = annBase.count()
      // 4k rows/file: the inverted file spans dozens of files at 10×
      // (as a corpus-sized index does at any real scale), so the
      // probed-cell zone census below measures REAL file pruning, not
      // a 2-file degenerate layout
      graft.ops.AnnIndex.bootstrap(annBase, "vec_id", "embedding", nCells, ivfRoot,
        targetRowsPerFile = 4000)
      graft.ops.AnnIndex.bootstrapPq(annBase, "vec_id", "embedding", pqRoot)
    }
    timed("ann_ingest") {
      graft.ops.AnnIndex.ingest(annDelta, "vec_id", "embedding", ivfRoot)
      graft.ops.AnnIndex.ingestPq(annDelta, "vec_id", "embedding", pqRoot)
      counts("ann_drift_bp") =
        math.round(graft.ops.AnnIndex.drift(spark, ivfRoot) * 10000)
    }
    // the COMPOSED single-store layout beside the two-store pair: codes
    // range-clustered by cell, so the ADC scan file-prunes to the
    // probed cells too — serving reads nothing outside them
    val compRoot = graft.ops.Materialize.scratchDir("soak-ann-comp")
    timed("ann_bootstrap_composed") {
      // 40k rows/file: the 4k the CELLS census uses would fragment the
      // codes table (4 skinny code rows per vector) into pure footer
      // overhead — at this file size a probed cell still spans its own
      // file set, which is the property the layout sells
      graft.ops.AnnIndex.bootstrapComposed(
        annBase, "vec_id", "embedding", nCells, compRoot,
        targetRowsPerFile = 40000)
    }
    timed("ann_ingest_composed") {
      graft.ops.AnnIndex.ingestComposed(annDelta, "vec_id", "embedding", compRoot)
      ()
    }
    val annQueries = graft.ops.Materialize.index(
      embScaled.filter(col("vec_id") < 16), "soak-ann-queries")
    val servedAdc = timed("ann_serving") {
      graft.ops.AnnIndex.probeFileCounts(
          spark, ivfRoot, annQueries, "vec_id", "embedding", nprobe = 4)
        .foreach { case (read, total) =>
          counts("ann_cells_files_read") = read.toLong
          counts("ann_cells_files_total") = total.toLong
        }
      val s = graft.ops.AnnIndex.ivfadcTopK(
        embScaled, annQueries, "vec_id", "embedding", k = 5,
        ivfRoot, pqRoot, nprobe = 4, shortlist = 200)
        .select("query_id", "corpus_id")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      counts("ann_served_rows") = s.size.toLong
      s
    }
    val servedComposed = timed("ann_serving_composed") {
      graft.ops.AnnIndex.ivfadcTopKComposed(
        annQueries, "vec_id", "embedding", kNeighbors = 5, compRoot,
        nprobe = 4, shortlist = 200)
        .select("query_id", "corpus_id")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    }
    val servedIvf = timed("ann_serving_ivf") {
      graft.ops.AnnIndex.topK(
        embScaled, annQueries, "vec_id", "embedding", k = 5,
        ivfRoot, nprobe = 4)
        .select("query_id", "corpus_id")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    }
    timed("ann_brute") {
      val qv = annQueries.select(col("vec_id").as("query_id"),
        col("embedding").as("qvec"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("query_id")
        .orderBy(col("cos").desc, col("corpus_id").asc)
      val brute = embScaled
        .select(col("vec_id").as("corpus_id"), col("embedding").as("cvec"))
        .join(broadcast(qv))
        .filter(col("query_id") =!= col("corpus_id"))
        .withColumn("cos",
          round(graft.ops.Similarity.cosine(col("qvec"), col("cvec")), 4))
        .withColumn("rank", row_number().over(w))
        .filter(col("rank") <= 5)
        .select("query_id", "corpus_id")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      counts("ann_recall_pm") =
        math.round(1000.0 * (servedAdc & brute).size / math.max(1, brute.size))
      counts("ann_ivf_recall_pm") =
        math.round(1000.0 * (servedIvf & brute).size / math.max(1, brute.size))
      counts("ann_composed_recall_pm") =
        math.round(1000.0 * (servedComposed & brute).size / math.max(1, brute.size))
    }

    graft.ops.Materialize.clearCache()
    val total = stages.values.sum
    val stagesJson = stages.map { case (k, v) => s""""$k":${f"$v%.2f"}""" }.mkString(",")
    val countsJson = counts.map { case (k, v) => s""""$k":$v""" }.mkString(",")
    println(s"""{"metric":"soak_total","value":${f"$total%.2f"},"unit":"sec","replicas":$replicas,""" +
      s""""sf":"$sfDir","stages":{$stagesJson},"counts":{$countsJson},"spill_bytes":${spill()}}""")
    spark.stop()
  }
}
