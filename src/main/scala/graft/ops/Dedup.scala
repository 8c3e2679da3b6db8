package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deduplication operators: exact, MinHash+LSH, SimHash, n-gram Jaccard.
  *
  * Scale design (100 TB): the expensive part of near-dedup is candidate
  * generation. All-pairs comparison is O(n²) and dead on arrival; every
  * operator here blocks first — exact by content hash, MinHash by LSH band
  * buckets, n-gram Jaccard by an explicit blocking key — so the only
  * shuffles are groupBy/joins on those blocking keys, each salted-friendly
  * and AQE-skew-handled. Signatures are computed scan-side with array
  * expressions (no explode, no shuffle) so the heavy map stage stays in
  * WholeStageCodegen.
  */
object Dedup {

  /** Exact dedup by content hash: one shuffle on md5(text). Returns one
    * row per distinct content with the keeper id (min id) and dup count. */
  def exactGroups(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.groupBy(md5(col(textCol)).as("content_md5"))
      .agg(min(col(idCol)).as("keeper"), count(lit(1)).as("copies"))

  /** Exact-substring novelty dedup — the linear approximation of
    * suffix-array substring dedup (the "Deduplicating Training Data Makes
    * Language Models Better" / RefinedWeb step): every word n-gram is
    * OWNED by the first document (minimum id) containing it, and a
    * document's novelty is the fraction of its distinct grams it owns.
    * Low-novelty documents are mosaics of earlier content — re-emissions
    * that pairwise Jaccard dedup structurally misses when no single pair
    * crosses its threshold (ten documents each contributing a tenth of
    * the copy never form a candidate pair).
    *
    * Scale shape: grams travel as 16-hex md5 prefixes, never text;
    * ownership is ONE partial-aggregated groupBy-min over (gram, doc)
    * rows and novelty ONE groupBy over doc ids — linear in total gram
    * count with no candidate join and no pair explosion anywhere
    * (contrast the O(candidates) joins of the LSH/Jaccard operators).
    * Returns (idCol, n_grams, n_owned, novelty, keep). */
  def substringNovelty(
      df: DataFrame,
      idCol: String,
      textCol: String,
      shingleWords: Int = 8,
      keepAt: Double = 0.5): DataFrame = {
    // Ownership via a whole-partition window-min: the (doc, gram) stream
    // shuffles ONCE on the gram key (a groupBy-min + join-back encoding
    // would shuffle it twice and recompute or round-trip the shingle+md5
    // map stage), then aggregates per doc — two shuffles total, both of
    // skinny (id, 16-hex) rows.
    val wOwner = org.apache.spark.sql.expressions.Window.partitionBy("gh")
    df.select(col(idCol), explode(array_distinct(
        transform(shingles(textCol, shingleWords),
          g => substring(md5(g), 1, 16)))).as("gh"))
      .withColumn("owner", min(col(idCol)).over(wOwner))
      .groupBy(idCol)
      .agg(
        count(lit(1)).cast("long").as("n_grams"),
        sum(when(col("owner") === col(idCol), 1L).otherwise(0L)).as("n_owned"))
      .withColumn("novelty",
        round(col("n_owned").cast("double") / col("n_grams"), 4))
      .withColumn("keep", col("novelty") >= keepAt)
  }

  /** Line-level corpus dedup (the CCNet / RefinedWeb paragraph-dedup
    * step): a "line" is a non-overlapping block of `blockWords` words;
    * any line whose exact content occurs more than `maxCopies` times
    * corpus-wide is removed from EVERY document, and each
    * document is reassembled from its surviving lines in order. This
    * kills boilerplate (headers, footers, license blocks) that document-
    * level dedup never touches because the documents around it differ.
    *
    * Scale shape: the (doc, line) stream shuffles ONCE on the line hash
    * (whole-partition window count — the groupBy+join-back encoding
    * would shuffle it twice) and once more per doc for reassembly; lines
    * are counted by md5, so wide text never travels as a join key.
    * Returns (idCol, n_lines, n_kept, text_clean). */
  def lineDedup(
      df: DataFrame,
      idCol: String,
      textCol: String,
      blockWords: Int = 10,
      maxCopies: Int = 1): DataFrame = {
    val toks = s"split($textCol, ' ')"
    val blocks = expr(
      s"""transform(sequence(0, cast(ceil(size($toks) / ${blockWords}.0) AS INT) - 1),
         |  i -> concat_ws(' ', slice($toks, i * $blockWords + 1, $blockWords)))""".stripMargin)
    val wLine = org.apache.spark.sql.expressions.Window.partitionBy("lh")
    df.select(col(idCol), posexplode(blocks).as(Seq("pos", "line")))
      .withColumn("lh", md5(col("line")))
      .withColumn("copies", count(lit(1)).over(wLine))
      .groupBy(idCol)
      .agg(
        count(lit(1)).cast("long").as("n_lines"),
        sum(when(col("copies") <= maxCopies, 1L).otherwise(0L)).as("n_kept"),
        array_join(
          transform(
            array_sort(collect_list(
              when(col("copies") <= maxCopies, struct(col("pos"), col("line"))))),
            x => x.getField("line")),
          " ").as("text_clean"))
  }

  /** MinHash signature columns h0..h{k-1}: per hash function i, the min of
    * md5(salt_i ++ shingle) over the document's word shingles. min-of-md5
    * over a string domain is a valid minwise hash family; salting gives k
    * independent functions. Computed entirely with array expressions —
    * no explode, no shuffle. */
  def minhashSignatures(
      df: DataFrame,
      textCol: String,
      numHashes: Int = 4,
      shingleWords: Int = 3): DataFrame = {
    val sh = s"_shingles"
    val withShingles = df.withColumn(sh, shingles(textCol, shingleWords))
    (0 until numHashes).foldLeft(withShingles) { (d, i) =>
      d.withColumn(s"h$i", expr(s"array_min(transform($sh, s -> md5(concat('salt$i|', s))))"))
    }.drop(sh)
  }

  /** Word-bigram gram sets as 16-hex md5 prefixes, in a `toks` column —
    * the similarity domain shared by the gram-minhash near-dup pipeline,
    * the exact all-pairs join, the recall eval, and the soak stage. ONE
    * definition on purpose: the gram choice decides whether the
    * similarity predicate discriminates at all (unigram sets at t=0.5
    * marked 74% of soak pairs "similar"), so every consumer must mean
    * the same thing by "similar". */
  def bigramMd5Tok(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.select(col(idCol), array_distinct(shingles(textCol, 2)).as("_g"))
      .select(col(idCol),
        expr("transform(_g, g -> substring(md5(g), 1, 16))").as("toks"))

  /** Bijective 16-hex → 64-bit long re-encode of a token-array column
    * (two conv'd 8-hex halves, shift-or'd). Injective on the md5-hex16
    * token domain, so set cardinalities — and therefore every Jaccard
    * computed from intersection counts and sizes — are EXACTLY the
    * string domain's, while joins and the sorted-merge verify move and
    * compare 8-byte longs instead of 16-char UTF8 strings (guide §2.3
    * "narrower types"). Both sides of a verify must re-encode (the sort
    * order changes domain, consistently). Any other token (a word, a
    * null, upper-case hex) fails the query instead of merging tokens; the
    * unreachable coalesce default only types the elements non-null, as
    * [[graft.functions.SortedIntersectCount]]'s long branch requires. */
  def hex16ToLongs(arr: Column): Column =
    transform(arr, t => coalesce(
      when(t.rlike("^[0-9a-f]{16}$"),
        shiftleft(conv(substring(t, 1, 8), 16, 10).cast("long"), 32)
          .bitwiseOR(conv(substring(t, 9, 8), 16, 10).cast("long")))
        .otherwise(raise_error(concat(
          lit("hex16ToLongs: token is not 16 lower-case hex characters: "),
          coalesce(t, lit("null"))))),
      lit(0L)))

  /** Word shingles of size n (full text as one shingle if shorter). */
  def shingles(textCol: String, n: Int): Column = {
    val toks = s"split(lower($textCol), ' ')"
    expr(
      s"""CASE WHEN size($toks) < $n THEN array(concat_ws(' ', $toks))
         |ELSE transform(sequence(1, size($toks) - ${n - 1}),
         |  i -> concat_ws(' ', slice($toks, i, $n))) END""".stripMargin)
  }

  /** LSH banding: band j = md5 of the concatenated signature slice. Docs
    * sharing any band hash are near-dup candidates. rowsPerBand divides
    * numHashes. */
  def lshBands(sigDf: DataFrame, numHashes: Int, rowsPerBand: Int): DataFrame = {
    val bands = (0 until numHashes / rowsPerBand).map { b =>
      val cols = (b * rowsPerBand until (b + 1) * rowsPerBand).map(i => col(s"h$i"))
      md5(concat_ws("|", cols: _*)).as(s"band$b")
    }
    sigDf.select(col("*") +: bands: _*)
  }

  /** Candidate pairs from LSH buckets: unpivot bands with posexplode, then
    * ONE self-join on (band index, band hash) — not one join per band.
    * The join key is high-cardinality, so the shuffle partitions evenly; a
    * pathological hot bucket (boilerplate text) is exactly the case AQE
    * skew-join splitting handles.
    *
    * The band table is materialized ([[Materialize.index]]) before the
    * self-join: without it Catalyst collapses the projections and both
    * join sides recompute the full shingle/md5 signature expression tree —
    * a >100× slowdown observed even at tiny scale, and at 100 TB exactly
    * the thing you'd avoid by writing the banded index once. */
  def lshCandidatePairs(bandDf: DataFrame, idCol: String, numBands: Int): DataFrame = {
    val bandCols = (0 until numBands).map(b => col(s"band$b"))
    val unpivoted = Materialize.index(
      bandDf.select(col(idCol), posexplode(array(bandCols: _*)).as(Seq("band_idx", "bk"))),
      "lsh-bands")
    val l = unpivoted.select(col(idCol).as("id_a"), col("band_idx"), col("bk"))
    val r = unpivoted.select(col(idCol).as("id_b"), col("band_idx"), col("bk"))
    l.join(r, Seq("band_idx", "bk"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b")
      .distinct()
  }

  /** Exact Jaccard similarity on distinct word sets — integer set sizes,
    * so the division is bit-exact and portable. */
  def jaccard(tokensA: Column, tokensB: Column): Column =
    size(array_intersect(tokensA, tokensB)).cast("double") /
      size(array_union(tokensA, tokensB))

  /** Verify candidate pairs with exact n-gram Jaccard; keep pairs over the
    * threshold. `docs` must carry (idCol, textCol). */
  def verifyPairs(
      pairs: DataFrame,
      docs: DataFrame,
      idCol: String,
      textCol: String,
      threshold: Double): DataFrame = {
    // token sets are joined twice (id_a and id_b side); materialize once
    // instead of re-tokenizing the corpus through both join lineages
    val tok = Materialize.index(
      docs.select(col(idCol), array_distinct(split(lower(col(textCol)), " ")).as("toks")),
      "verify-toks")
    verifyPairsTok(pairs, tok, idCol, threshold)
  }

  /** Like [[verifyPairs]] but over an already-materialized token table
    * (idCol, toks) — the minhash pipeline stores token sets alongside the
    * signatures so the corpus is tokenized exactly once. */
  def verifyPairsTok(
      pairs: DataFrame,
      tok: DataFrame,
      idCol: String,
      threshold: Double): DataFrame = {
    // Sort ONCE at the doc-sized token table; the per-pair verify is then
    // the codegen'd two-pointer distinct-intersection count
    // ([[graft.functions.SortedIntersectCount]]) plus |A∪B| = |A|+|B|−i —
    // no per-pair array allocation. Value-identical to the portable
    // array_intersect/array_union form (FunctionsSpec-pinned): the token
    // arrays are distinct sets, so the counts agree and so does the
    // rounded division the oracle replays.
    val sorted = tok.select(col(idCol), sort_array(col("toks")).as("toks"))
    pairs
      .join(sorted.select(col(idCol).as("id_a"), col("toks").as("toks_a")), "id_a")
      .join(sorted.select(col(idCol).as("id_b"), col("toks").as("toks_b")), "id_b")
      .withColumn("_i", sortedIntersectCount(col("toks_a"), col("toks_b")).cast("double"))
      .withColumn("jac", round(
        col("_i") / (size(col("toks_a")) + size(col("toks_b")) - col("_i")), 4))
      .filter(col("jac") >= threshold)
      .select("id_a", "id_b", "jac")
  }

  /** Codegen'd distinct-intersection count over two SORTED string arrays
    * ([[graft.functions.SortedIntersectCount]]). */
  def sortedIntersectCount(a: Column, b: Column): Column = {
    import org.apache.spark.sql.graftshim.ColumnExpr
    ColumnExpr.column(graft.functions.SortedIntersectCount(
      ColumnExpr.expr(a), ColumnExpr.expr(b)))
  }

  /** Fuzzy decontamination: per TRAINING document, the maximum verified
    * n-gram Jaccard against any BENCHMARK document that shares a MinHash
    * band — catches lightly-edited benchmark copies the exact-substring
    * decontaminator misses (it needs 8 verbatim words in a row; a
    * synonym swap every 7 words defeats it, but barely moves Jaccard).
    *
    * Scale shape: cross-set banding, not a self-join — each side
    * computes signatures scan-side, candidates come from an equi-join on
    * (band index, band hash), and the benchmark side is DISTINCT-reduced
    * and orders of magnitude smaller than the corpus (the decontaminate
    * pattern), so the join broadcasts. Only banded candidates pay the
    * exact-Jaccard verify; training docs with no shared band short to
    * max_jac 0 via LEFT join + coalesce. One corpus scan, no pair
    * explosion.
    *
    * Returns every training row: (idCol, max_jac, contaminated). */
  def crossSetNearDups(
      train: DataFrame,
      bench: DataFrame,
      idCol: String,
      textCol: String,
      numHashes: Int = 4,
      rowsPerBand: Int = 2,
      threshold: Double = 0.5): DataFrame = {
    val nBands = numHashes / rowsPerBand
    def banded(df: DataFrame, side: String) = {
      val bandCols = (0 until nBands).map(b => col(s"band$b"))
      lshBands(minhashSignatures(df, textCol, numHashes), numHashes, rowsPerBand)
        .select(col(idCol).as(side),
          posexplode(array(bandCols: _*)).as(Seq("band_idx", "bk")))
    }
    // the token table tags each row's SIDE: train and bench are separate
    // corpora whose id spaces may collide (an external benchmark keeps
    // its own ids), and an id-only join would attach the wrong side's
    // tokens to colliding ids, duplicating candidates and corrupting
    // the Jaccard values
    def sided(df: DataFrame, side: String) =
      df.select(col(idCol), lit(side).as("side"),
        sort_array(array_distinct(split(lower(col(textCol)), " "))).as("toks"))
    val tok = Materialize.index(
      sided(train, "t").unionByName(sided(bench, "b")), "decon-toks")
    val cand = banded(train, "tid")
      .join(broadcast(banded(bench, "bid")), Seq("band_idx", "bk"))
      .select("tid", "bid").distinct()
    val jac = cand
      .join(tok.filter(col("side") === "t")
        .select(col(idCol).as("tid"), col("toks").as("toks_t")), "tid")
      .join(tok.filter(col("side") === "b")
        .select(col(idCol).as("bid"), col("toks").as("toks_b")), "bid")
      // per-candidate verify via the codegen'd sorted-merge count (the
      // token table is sorted at build, |A∪B| = |A|+|B|−i)
      .withColumn("_i", sortedIntersectCount(col("toks_t"), col("toks_b")).cast("double"))
      .withColumn("_jac", round(
        col("_i") / (size(col("toks_t")) + size(col("toks_b")) - col("_i")), 4))
      .groupBy("tid")
      .agg(max(col("_jac")).as("max_jac"))
    train.select(col(idCol))
      .join(jac.withColumnRenamed("tid", idCol), Seq(idCol), "left")
      .withColumn("max_jac", coalesce(col("max_jac"), lit(0.0)))
      .withColumn("contaminated", col("max_jac") >= threshold)
  }

  /** Chunk-containment near-dups over content-defined chunks
    * ([[TextAnalysis.cdcChunks]] output): pair (a,b) scores
    * |shared distinct chunk hashes| / min(|a|, |b|) — containment, not
    * Jaccard, so a document ENGULFED by a larger one still scores 1.0
    * (the mosaic/superset case word-level pair Jaccard dilutes away).
    * This is the storage-dedup use of CDC: identical regions hash to
    * identical chunks regardless of position.
    *
    * Scale shape: the distinct (id, hash) table materializes once and
    * self-joins on the chunk hash — high-cardinality key, evenly
    * hashed; a boilerplate hot chunk is the AQE skew-join case. Pair
    * aggregation and the two per-doc-count joins all key on ids.
    *
    * `maxDf` (0 = off) drops hashes present in more than that many
    * documents BEFORE the self-join — MOSS's own noise rule: a
    * fingerprint shared by hundreds of documents is boilerplate, not
    * evidence of copying, and it is exactly the key whose join bucket
    * grows quadratically with corpus size. With the cap, a hash
    * contributes at most maxDf² pairs regardless of corpus growth.
    * Containment is then computed over the RETAINED (discriminative)
    * fingerprint space — numerator and denominator both — so two docs
    * sharing their distinctive content still score ~1.0 after their
    * common boilerplate is ignored, while a pair related ONLY through
    * boilerplate disappears instead of spuriously passing.
    * Content-defined chunk hashes are long high-entropy regions where
    * ubiquity is real duplication — callers on that path leave the cap
    * off.
    *
    * Returns (id_a, id_b, shared, containment) over the threshold. */
  def cdcOverlapPairs(
      chunks: DataFrame,
      idCol: String,
      threshold: Double = 0.5,
      maxDf: Int = 0): DataFrame = {
    val h = Materialize.index(
      chunks.select(col(idCol), col("chunk_md5")).distinct(), "cdc-hashes")
    val joinable =
      if (maxDf <= 0) h
      else {
        val keep = h.groupBy("chunk_md5").agg(count(lit(1)).as("df"))
          .filter(col("df") <= maxDf).select("chunk_md5")
        h.join(keep, "chunk_md5")
      }
    val counts = joinable.groupBy(idCol).agg(count(lit(1)).as("nch"))
    val pairs = joinable.select(col(idCol).as("id_a"), col("chunk_md5"))
      .join(joinable.select(col(idCol).as("id_b"), col("chunk_md5")), "chunk_md5")
      .filter(col("id_a") < col("id_b"))
      .groupBy("id_a", "id_b")
      .agg(count(lit(1)).as("shared"))
    pairs
      .join(counts.select(col(idCol).as("id_a"), col("nch").as("na")), "id_a")
      .join(counts.select(col(idCol).as("id_b"), col("nch").as("nb")), "id_b")
      .withColumn("containment",
        round(col("shared") / least(col("na"), col("nb")), 4))
      .filter(col("containment") >= threshold)
      .select("id_a", "id_b", "shared", "containment")
  }

  /** Block boundaries for [[simhashHammingPairs]]'s candidate keys:
    * 3 blocks over the 64-bit fingerprint (22 + 22 + 20). Two
    * fingerprints within hamming distance 2 have their ≤ 2 differing
    * bits in at most 2 blocks, so by pigeonhole they MATCH on at least
    * one whole block — Manku et al.'s table design (WWW'07 §3), with
    * the block count tied to the radius instead of probing bit flips. */
  private[graft] val HammingBlocks: Seq[(Int, Int)] = Seq((1, 22), (23, 22), (45, 20))

  /** SQL for the block-match candidate keys over a `simhash` column —
    * shared with the profiler so its measurements track the production
    * scheme. */
  private[graft] def hammingBlockKeySql: Seq[String] =
    HammingBlocks.zipWithIndex.map { case ((start, len), b) =>
      s"concat('$b|', substring(simhash, $start, $len))"
    }

  /** SQL for the exact hamming distance between two 64-char bit-string
    * columns — the single verify expression every block-candidate
    * consumer (pair dedup, novelty gate, streaming gate) shares. */
  private[graft] def hammingDistSql(a: String, b: String): String =
    s"""aggregate(sequence(1, 64), 0,
       |  (acc, i) -> acc + IF(substring($a, i, 1) = substring($b, i, 1), 0, 1))"""
      .stripMargin

  /** Near-dup pairs within SimHash hamming distance `maxDist` (≤ 2) over
    * 64-BIT fingerprints, found by block-match candidate generation
    * instead of an all-pairs comparison: each distinct fingerprint emits
    * one key per block (block ordinal + that block's 22-or-20 bits), two
    * fingerprints at distance ≤ 2 are GUARANTEED to share at least one
    * key (pigeonhole over 3 blocks), and exact hamming distance verifies
    * the candidates.
    *
    * Width matters as much as structure: at 16 bits the hamming-≤2 ball
    * covers 137/65,536 of the whole fingerprint space, so near-random
    * documents collide and candidate volume grows ~quadratically with
    * corpus size; at 64 bits (Manku's width) unrelated documents sit
    * ~32 bits apart and the ball is vanishingly sparse, so candidates —
    * and output — track TRUE near-dups linearly.
    *
    * Scale shape: probe fan-out is a fixed ×3 on short block keys, the
    * candidate self-join keys on a 2²⁰⁺-value block bucket, and the
    * probe table holds DISTINCT fingerprints, not documents — exact-dup
    * clusters collapse to one row each, so a hot content cluster of m
    * docs costs 3 probe rows, never 3m rows whose self-join degenerates
    * to in-bucket m². Doc pairs re-expand afterwards: same-fingerprint
    * groups pair within (distance 0 by construction), and verified
    * fingerprint pairs fan out to their member cross products — both
    * output-sized joins. The simhash table is materialized once; both
    * probe sides and the re-expansion read it. */
  def simhashHammingPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      maxDist: Int = 2): DataFrame =
    hammingPairs64(simhash64Agg(df, idCol, textCol), idCol, maxDist)

  /** The fingerprint-GENERIC core of [[simhashHammingPairs]]: near-dup
    * pairs within hamming `maxDist` (≤ 2) over ANY (id, 64-char
    * bit-string `simhash`) frame — SimHash text fingerprints and the
    * multimodal perceptual hashes ([[Multimodal.perceptualHash]]) share
    * the same block-key candidate scheme and exact verify. */
  private[ops] def hammingPairs64(
      fingerprints: DataFrame,
      idCol: String,
      maxDist: Int = 2): DataFrame = {
    require(maxDist <= 2,
      s"${HammingBlocks.size}-block keys certify distance <= 2, got $maxDist")
    val sh = Materialize.index(fingerprints, "simhash-idx")
    val hashes = sh.select("simhash").distinct()
    val probes = hashes.select(col("simhash"),
      explode(expr(s"array(${hammingBlockKeySql.mkString(", ")})")).as("probe"))
    val hpairs = probes.select(col("simhash").as("sa"), col("probe"))
      .join(probes.select(col("simhash").as("sb"), col("probe")), "probe")
      .filter(col("sa") < col("sb"))
      .select("sa", "sb").distinct()
      .withColumn("hd", expr(hammingDistSql("sa", "sb")).cast("long"))
      .filter(col("hd") <= maxDist)
    val cross = hpairs
      .join(sh.select(col(idCol).as("ia"), col("simhash").as("sa")), "sa")
      .join(sh.select(col(idCol).as("ib"), col("simhash").as("sb")), "sb")
      .select(least(col("ia"), col("ib")).as("id_a"),
        greatest(col("ia"), col("ib")).as("id_b"), col("hd"))
    val within = sh.select(col(idCol).as("ia"), col("simhash"))
      .join(sh.select(col(idCol).as("ib"), col("simhash")), "simhash")
      .filter(col("ia") < col("ib"))
      .select(col("ia").as("id_a"), col("ib").as("id_b"), lit(0L).as("hd"))
    within.unionAll(cross)
  }

  /** Every near-dup pair INVOLVING a new-batch fingerprint: new↔new via
    * the standard self-join machinery plus new↔old via a CROSS-set
    * block-key probe — the pair-producing sibling of [[simhashNovelty]]'s
    * min-distance gate, and the edge feed for incremental component
    * maintenance ([[Cluster.mergeClusters]]): together with a standing
    * assignment over the old pairs, the union of these delta edges
    * reproduces the full-graph closure exactly (pairwise predicates
    * don't change when the corpus is split, so
    * pairs(full) = pairs(old) ∪ pairsDelta(new, old) — property-pinned).
    *
    * Inputs are (id, 64-char `simhash`) frames with DISJOINT id sets.
    * Scale shape: both probe sides are DISTINCT fingerprints, the cross
    * join keys on the same ×3 block buckets (never new×old all-pairs),
    * identical cross-set fingerprints pair at distance 0 through the
    * shared keys, and re-expansion to id pairs is output-sized. The
    * old side never re-derives from documents — production reads its
    * standing fingerprint index. */
  def hammingPairsDelta(
      fpNew: DataFrame,
      fpOld: DataFrame,
      idCol: String,
      maxDist: Int = 2): DataFrame = {
    require(maxDist <= 2,
      s"${HammingBlocks.size}-block keys certify distance <= 2, got $maxDist")
    // SAME tag as hammingPairs64's index: the old side's fingerprint plan
    // is typically identical to the standing self-join index the base
    // pair set was built from (phashPairs(base) etc.), so tagging it
    // identically makes the content-addressed cache SHARE it — the
    // incremental query then fingerprints only the DELTA's payloads,
    // which is the entire point of the incremental form (r11 telemetry:
    // distinct delta-* tags recomputed the base fingerprints, 16.2 s)
    val shNew = Materialize.index(fpNew, "simhash-idx")
    val shOld = Materialize.index(fpOld, "simhash-idx")
    def probes(sh: DataFrame, as: String) = sh.select("simhash").distinct()
      .select(col("simhash").as(as),
        explode(expr(s"array(${hammingBlockKeySql.mkString(", ")})")).as("probe"))
    // cross-set: sn == so is a REAL pair here (distance 0, different ids
    // by the disjointness contract), unlike the self-join's sa < sb cut
    val hits = probes(shNew, "sn").join(probes(shOld, "so"), "probe")
      .select("sn", "so").distinct()
      .withColumn("hd", expr(hammingDistSql("sn", "so")).cast("long"))
      .filter(col("hd") <= maxDist)
    val cross = hits
      .join(shNew.select(col(idCol).as("ia"), col("simhash").as("sn")), "sn")
      .join(shOld.select(col(idCol).as("ib"), col("simhash").as("so")), "so")
      .select(least(col("ia"), col("ib")).as("id_a"),
        greatest(col("ia"), col("ib")).as("id_b"), col("hd"))
    hammingPairs64(shNew, idCol, maxDist).unionByName(cross)
  }

  /** One row per (block key, fingerprint, id) for an (id, 64-char
    * `simhash`) frame — the MATERIALIZED form of the block-probe keys
    * [[hammingPairsDelta]] derives on the fly. Written once into a
    * standing table range-clustered on `bk`, it turns every later
    * cross-set probe into a key-filtered scan instead of a full-table
    * block re-derivation: per-file footer min/max on the sorted `bk`
    * column skip the files a probe's keys can't touch (the same layout
    * [[graft.ops.Retrieval.postingsIndex]] uses for `tok`). `prefix`
    * namespaces key families sharing one table (e.g. phash vs dhash
    * perceptual fingerprints): it is embedded IN the key, so a
    * bk-equijoin can never pair fingerprints across families. */
  private[graft] def blockRows(
      fp: DataFrame, idCol: String, prefix: String = ""): DataFrame =
    fp.select(col(idCol), col("simhash"))
      .withColumn("bk", explode(expr(s"array(${hammingBlockKeySql.mkString(", ")})")))
      .select(concat(lit(prefix), col("bk")).as("bk"), col("simhash"), col(idCol))

  /** [[hammingPairsDelta]] served FROM a standing block-key table
    * instead of re-deriving the old side's probe keys from its
    * fingerprints: `oldBlocks` is a [[blockRows]] frame (typically a
    * bk-range-clustered lake table holding several `prefix` families),
    * and the only old-side work is a scan of it. When `probeKeys`
    * carries the delta's own (small) literal key set the scan arrives
    * with a pushed `bk IN (...)` filter, so the sorted layout's footer
    * stats skip every file holding no probed key — the probe cost
    * tracks the DELTA, not the standing corpus. Without literals
    * (a large delta, where most files hold some key anyway) the same
    * join runs against the full scan — identical output either way.
    *
    * Output ≡ [[hammingPairsDelta]] (new↔new ∪ new↔old pairs within
    * `maxDist`), property-pinned. The literal filter is lossless: if
    * fingerprints sn (new) and so (old) share block b, then so's
    * block-b key IS one of the delta's keys, so every `oldBlocks` row
    * of so under key b — and with it every old id carrying so —
    * survives the filter. */
  def hammingPairsDeltaIndexed(
      fpNew: DataFrame,
      oldBlocks: DataFrame,
      idCol: String,
      maxDist: Int = 2,
      prefix: String = "",
      probeKeys: Option[Seq[String]] = None): DataFrame = {
    require(maxDist <= 2,
      s"${HammingBlocks.size}-block keys certify distance <= 2, got $maxDist")
    val shNew = Materialize.index(fpNew, "simhash-idx")
    val probesNew = shNew.select("simhash").distinct()
      .select(col("simhash").as("sn"),
        explode(expr(s"array(${hammingBlockKeySql.mkString(", ")})")).as("bk"))
      .withColumn("bk", concat(lit(prefix), col("bk")))
    // this family's slice of the standing table: the prefix is a
    // leading substring of the sorted cluster key, so StartsWith prunes
    // by the same footer stats the IN filter does
    val oldFam = oldBlocks.filter(col("bk").startsWith(prefix))
    val oldScan = probeKeys match {
      case Some(keys) => oldFam.filter(col("bk").isin(keys: _*))
      case None => oldFam
    }
    val hits = probesNew
      .join(oldScan.select(col("bk"), col("simhash").as("so")).distinct(), "bk")
      .select("sn", "so").distinct()
      .withColumn("hd", expr(hammingDistSql("sn", "so")).cast("long"))
      .filter(col("hd") <= maxDist)
    val cross = hits
      .join(shNew.select(col(idCol).as("ia"), col("simhash").as("sn")), "sn")
      .join(oldScan.select(col(idCol).as("ib"), col("simhash").as("so")).distinct(), "so")
      .select(least(col("ia"), col("ib")).as("id_a"),
        greatest(col("ia"), col("ib")).as("id_b"), col("hd"))
    hammingPairs64(shNew, idCol, maxDist).unionByName(cross)
  }

  /** Ingest-time near-dup gate: each NEW document's minimum SimHash
    * hamming distance into the EXISTING corpus (within `maxDist` ≤ 2),
    * and a `novel` flag when nothing is that close — the hamming
    * generalization of [[graft.ops.Curation.incrementalNovelty]]'s
    * exact-fingerprint gate (a lightly edited re-crawl of a known page
    * is NOT novel, an exact-hash gate says it is).
    *
    * Scale shape: both sides reduce to fingerprint tables ([[simhash64Agg]]
    * — the existing side further to DISTINCT fingerprints, so corpus
    * growth in exact-dup clusters is free), candidates come from the
    * same ×3 block keys as [[simhashHammingPairs]] (cross-set join, no
    * self-join), verification touches candidates only, and the min-dist
    * is a partial aggregate on the new-side fingerprint. The batch joins
    * back by fingerprint — output-sized. */
  def simhashNovelty(
      newDocs: DataFrame,
      existing: DataFrame,
      idCol: String,
      textCol: String,
      maxDist: Int = 2): DataFrame = {
    require(maxDist <= 2,
      s"${HammingBlocks.size}-block keys certify distance <= 2, got $maxDist")
    val fpNew = Materialize.index(
      simhash64Agg(newDocs, idCol, textCol), "novelty-new")
    val fpOld = Materialize.index(
      simhash64Agg(existing, idCol, textCol).select("simhash").distinct(),
      "novelty-old")
    // the block-key exprs read the column named `simhash`; alias it in
    // the same select, which evaluates against the input columns
    def probes(fp: DataFrame, as: String) = fp.select("simhash").distinct()
      .select(col("simhash").as(as),
        explode(expr(s"array(${hammingBlockKeySql.mkString(", ")})")).as("probe"))
    val hits = probes(fpNew, "sn").join(probes(fpOld, "so"), "probe")
      .select("sn", "so").distinct()
      .withColumn("hd", expr(hammingDistSql("sn", "so")).cast("long"))
      .filter(col("hd") <= maxDist)
      .groupBy("sn").agg(min("hd").as("min_dist"))
    fpNew.join(hits, fpNew("simhash") === hits("sn"), "left")
      .select(col(idCol), col("simhash"), col("min_dist"),
        col("min_dist").isNull.as("novel"))
  }

  /** 64-dimension SimHash over word tokens, as a 64-char bit string —
    * the width Manku et al. use, wide enough that unrelated documents
    * sit ~32 bits apart. Dimension i's +1/-1 vote is BIT i of
    * md5(token)'s first 64 bits (hex digit (i-1)/4 + 1, bit 3-(i-1)%4
    * within it); majority of token votes sets the bit (ties → 0, i.e.
    * 2·ones > n).
    *
    * Each token is hashed ONCE into a per-row digit-array projection
    * (md5 then all 16 leading hex digits decoded in one pass —
    * CollapseProject keeps the boundary), and the 64 bit sums read that
    * array: the hashing cost is identical to [[simhash16]]'s, only the
    * vote extraction widens. */
  def simhash64(df: DataFrame, textCol: String): DataFrame = {
    val bitCols = (1 to 64).map { i =>
      val digit = (i - 1) / 4 + 1
      val pow = 1 << (3 - ((i - 1) % 4))
      val sumExpr =
        s"aggregate(_tok_digits, 0L, (acc, ds) -> acc + (element_at(ds, $digit) div $pow) % 2)"
      s"CASE WHEN 2 * ($sumExpr) > size(_tok_digits) THEN '1' ELSE '0' END"
    }
    // null text ≡ empty text (one empty token) so the projection and agg
    // forms agree: explode of a null array would DROP the row entirely
    df.withColumn("_tok_digits", expr(
      s"""transform(transform(split(lower(coalesce($textCol, '')), ' '), t -> md5(t)),
         |  h -> transform(sequence(1, 16),
         |    j -> instr('0123456789abcdef', substring(h, j, 1)) - 1))""".stripMargin))
      .withColumn("simhash", expr(s"concat(${bitCols.mkString(", ")})"))
      .drop("_tok_digits")
  }

  /** [[simhash64]] as an explode + partial-aggregate instead of a per-row
    * projection: tokens explode, each row decodes its md5's 16 leading
    * hex digits ONCE as plain int columns, and the 64 bit sums are
    * ordinary `sum()` aggregates — every operator whole-stage-codegen'd
    * (the projection form pays interpreted higher-order-lambda
    * evaluation per element). Costs one doc-keyed shuffle of 65 longs
    * per partial — map-side combine keeps it doc-sized, tiny next to
    * the text being fingerprinted. Bit arithmetic is IDENTICAL to
    * [[simhash64]]; the two must agree string-for-string. Returns
    * (idCol, simhash). */
  def simhash64Agg(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val digitCols = (1 to 16).map { j =>
      expr(s"instr('0123456789abcdef', substring(_h, $j, 1)) - 1").as(s"_d$j")
    }
    val sums = (1 to 64).map { i =>
      val digit = (i - 1) / 4 + 1
      val pow = 1 << (3 - ((i - 1) % 4))
      sum(expr(s"(_d$digit div $pow) % 2")).as(s"_b$i")
    }
    val bitCols = (1 to 64).map(i => s"CASE WHEN 2 * _b$i > _n THEN '1' ELSE '0' END")
    df.select(col(idCol),
        explode(split(lower(coalesce(col(textCol), lit(""))), " ")).as("_tok"))
      .withColumn("_h", md5(col("_tok")))
      .select(col(idCol) +: digitCols: _*)
      .groupBy(idCol)
      .agg(count(lit(1)).as("_n"), sums: _*)
      .withColumn("simhash", expr(s"concat(${bitCols.mkString(", ")})"))
      .select(col(idCol), col("simhash"))
  }

  /** 16-dimension SimHash over word tokens, as a 16-char bit string.
    * Dimension i's +1/-1 vote is hex digit i of md5(token) vs its 7.5
    * midpoint; kept in exact integer arithmetic (2*sum > 15*n).
    *
    * Each token is hashed ONCE into a per-row md5 array behind its own
    * projection (CollapseProject keeps the boundary — the transform is
    * not a cheap expression), and the 16 digit sums read that array:
    * 16× less hashing than folding md5 into every per-bit aggregate,
    * which dominated the operator's runtime. */
  def simhash16(df: DataFrame, textCol: String): DataFrame = {
    val bitCols = (1 to 16).map { i =>
      val sumExpr =
        s"aggregate(_tok_md5, 0L, (acc, h) -> acc + instr('0123456789abcdef', substring(h, $i, 1)) - 1)"
      s"CASE WHEN 2 * ($sumExpr) > 15 * size(_tok_md5) THEN '1' ELSE '0' END"
    }
    df.withColumn("_tok_md5", expr(s"transform(split(lower($textCol), ' '), t -> md5(t))"))
      .withColumn("simhash", expr(s"concat(${bitCols.mkString(", ")})"))
      .drop("_tok_md5")
  }

  /** Robust-winnowing document fingerprints (Schleimer, Wilkerson,
    * Aiken, "Winnowing: Local Algorithms for Document Fingerprinting",
    * SIGMOD'03 — the MOSS scheme): hash every k-char gram, then keep
    * the minimum hash of each sliding window of w consecutive gram
    * hashes. Guarantee: any shared substring of length ≥ w + k − 1
    * contributes at least one shared fingerprint, while only ~2/(w+1)
    * of positions are kept — position-based min-sampling, the
    * complement of [[graft.ops.TextAnalysis.cdcChunks]]'s
    * content-defined cuts.
    *
    * Everything is per-row array expressions over one corpus scan (the
    * gram hash array computes ONCE behind its own projection and the
    * window mins read it); the only shuffle is the caller's. Docs
    * shorter than k chars fingerprint as one whole-text hash; fewer
    * than w grams → one window over them all.
    *
    * Gram hash stays md5: Spark's digest + substring are codegen'd
    * tight loops, while a "cheaper" per-position polynomial fold runs
    * as interpreted higher-order-function lambdas — measured 2× SLOWER
    * end to end at sf0.1, so the crypto hash wins here.
    *
    * Returns (idCol, fp) DISTINCT — feed to [[cdcOverlapPairs]] for
    * containment pairs. */
  def winnowFingerprints(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      k: Int = 8,
      w: Int = 4): DataFrame = {
    val grams =
      s"""CASE WHEN length($textCol) < $k THEN array(md5($textCol))
         |ELSE transform(sequence(1, length($textCol) - ${k - 1}),
         |  p -> md5(substring($textCol, p, $k))) END""".stripMargin
    val mins =
      s"""CASE WHEN size(_wh) < $w THEN array(array_min(_wh))
         |ELSE transform(sequence(1, size(_wh) - ${w - 1}),
         |  i -> array_min(slice(_wh, i, $w))) END""".stripMargin
    docs.select(col(idCol), expr(grams).as("_wh"))
      .select(col(idCol), explode(expr(mins)).as("fp"))
      .distinct()
  }

  /** EXACT all-pairs Jaccard similarity join via prefix filtering
    * (Bayardo/Ma/Srikant "Scaling Up All Pairs Similarity Search",
    * WWW'07) — finds EVERY pair of documents with token-set Jaccard
    * ≥ `threshold`, no LSH false negatives, without the all-pairs
    * product.
    *
    * Prefix lemma: order every token set by a single global total
    * order; if |A∩B| ≥ α then the first |A|−α+1 tokens of A intersect
    * the first |B|−α+1 of B. Jaccard ≥ t implies |A∩B| ≥ ceil(t·|A|)
    * and ≥ ceil(t·|B|), so indexing only each doc's first
    * n − ceil(t·n) + 1 tokens is a complete candidate generator.
    *
    * Scale shape: the global order is ascending document frequency
    * (rarest first, ties by token), so the inverted index holds only
    * each doc's RAREST tokens — a stop word never becomes a join key
    * unless a doc consists almost entirely of stop words, and bucket
    * sizes stay small precisely where df is large. The size filter
    * (t·|A| ≤ |B| ≤ |A|/t, valid since jac ≥ t forces
    * t·max(|A|,|B|) ≤ min(|A|,|B|)) prunes candidates before the
    * verify join. Stages: one df aggregation, one tok⋈df shuffle
    * join, one per-doc sort-agg, the prefix-index equi-self-join, and
    * the pair verify — all keyed shuffles, no window over data-sized
    * partitions, no cartesian. Verification reads the same
    * materialized token table as the candidate generator.
    *
    * Complements [[minhashSignatures]]+[[lshCandidatePairs]]: LSH is
    * the probabilistic fast path, this is the exact reference (and the
    * ground truth an LSH recall evaluation needs).
    *
    * THE TOKEN DEFINITION DECIDES SCALABILITY: the algorithm's output
    * is the true pair set, so if the similarity predicate itself is
    * near-vacuous the exact join is quadratic BY DEFINITION — measured
    * here: unigram token sets at t=0.5 marked 9.2M of 12.5M possible
    * pairs "similar" on the 5k-doc soak corpus, while word-BIGRAM sets
    * (baseline ~0.02) kept the truth output-sized. Production callers
    * should pass bigram-or-wider gram sets ([[allPairsJaccardTok]]);
    * the unigram text wrapper below exists for generic small-set use
    * and the brute-force property pins.
    *
    * Returns (id_a, id_b, jac) with id_a < id_b, jac rounded to 4 dp. */
  def allPairsJaccard(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      threshold: Double): DataFrame =
    allPairsJaccardTok(
      docs.select(col(idCol),
        array_distinct(split(lower(col(textCol)), " ")).as("toks")),
      idCol, threshold)

  /** [[allPairsJaccard]] over a prepared (idCol, toks) table — the form
    * that lets the caller choose the gram definition (word bigrams,
    * md5-prefixed shingles, CDC chunk hashes, …).
    *
    * `hexTokens = true` (every production call site: the tokens are
    * [[bigramMd5Tok]]'s 16-hex md5 prefixes) re-encodes each token
    * BIJECTIVELY into one 64-bit long (two conv'd 8-hex halves,
    * shift-or'd — injective, so set cardinalities and therefore every
    * Jaccard are EXACTLY the string domain's) before the inverted
    * index: the candidate join keys and the verify arrays drop from
    * 16-char UTF8 strings to 8-byte longs (guide §2.3 "narrower
    * types"), and the per-pair verify becomes one long compare per
    * step instead of a 16-byte UTF8 compare. Measured at sf0.1: the
    * cold 3-index build 12.7 s → ~5 s, identical output. The global
    * prefix order changes (df asc, long value) — any total order is a
    * valid prefix order (Bayardo §2), so the candidate SET may differ
    * but the verified pair set cannot. */
  def allPairsJaccardTok(
      tokens: DataFrame,
      idCol: String,
      threshold: Double,
      hexTokens: Boolean = false): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val tokStr = Materialize.index(tokens, "allpairs-tok")
    val tok =
      if (!hexTokens) tokStr
      else tokStr.select(col(idCol), hex16ToLongs(col("toks")).as("toks"))
    val exploded = tok.select(col(idCol), explode(col("toks")).as("tok"))
    val dfCounts = exploded.groupBy("tok").agg(count(lit(1)).as("df"))
    // Per-doc rank under the global (df asc, tok) order, as skinny rows:
    // the prefix only needs each token's RANK within its document, so a
    // per-doc row_number (partition bounded by document length, never
    // data-sized) replaces the earlier sort_array(collect_list(...)) —
    // which shipped every document's full gram array through the
    // groupBy shuffle and SPILLED 6.5 GB at the 3× soak point (143 s →
    // the window form re-sorts the same rows in place).
    // Every pruning bound below uses a RELAXED threshold, not `threshold`
    // itself: verification (and the brute-force oracle) keep pairs whose
    // 4-dp-ROUNDED jaccard reaches t, so a raw jaccard as low as
    // t − 0.00005 must still reach the verify step — pruning at exact t
    // would silently drop those boundary pairs (e.g. B ⊂ A with
    // |B|/|A∪B| = 0.499975 rounds to 0.5000). The extra 1e-9 absorbs
    // float rounding in ceil/multiply so the bounds can only widen.
    val tPrune = threshold - 5.0e-5 - 1e-9
    val wDoc = Window.partitionBy(idCol)
    val wOrd = Window.partitionBy(idCol).orderBy(col("df"), col("tok"))
    val prefix = Materialize.index(
      exploded
        .join(dfCounts, "tok")
        .withColumn("n", count(lit(1)).over(wDoc))
        .withColumn("rnk", row_number().over(wOrd))
        .filter(col("rnk") <=
          col("n") - ceil(lit(tPrune) * col("n")).cast("int") + lit(1))
        .select(col(idCol), col("n"), col("rnk"), col("tok")),
      "allpairs-prefix")
    // PPJoin positional filter (Xiao et al. VLDB'08): a match on a token
    // at 1-based sorted positions (ra, rb) can witness overlap at most
    // 1 + min(na − ra, nb − rb); jac ≥ t needs overlap ≥ t/(1+t)·(na+nb),
    // and the FIRST common token of any truly-similar pair satisfies the
    // bound, so pruning deeper matches loses no pairs (the bound is
    // relaxed by an epsilon so float rounding can only keep, not drop).
    // This is what keeps candidate volume near the true pair volume when
    // replicated/boilerplate docs put the same rare gram in many docs.
    val alphaFrac = tPrune / (1.0 + tPrune)
    val cand = prefix.select(col(idCol).as("id_a"), col("n").as("na"),
        col("rnk").as("ra"), col("tok"))
      .join(prefix.select(col(idCol).as("id_b"), col("n").as("nb"),
        col("rnk").as("rb"), col("tok")), "tok")
      .filter(col("id_a") < col("id_b") &&
        col("nb") * lit(tPrune) <= col("na") &&
        col("na") * lit(tPrune) <= col("nb") &&
        lit(1.0) + least(col("na") - col("ra"), col("nb") - col("rb")) >=
          lit(alphaFrac) * (col("na") + col("nb")) - lit(1e-9))
      .select("id_a", "id_b")
      .distinct()
    // The verified pair set is OUTPUT-sized — materializing it makes the
    // exact join's result itself a shareable index: a recall evaluation
    // (or any second consumer in the battery) reads these pairs from the
    // content-addressed cache instead of re-running the prefix join.
    Materialize.index(verifyPairsTok(cand, tok, idCol, threshold), "allpairs-out")
  }
}
