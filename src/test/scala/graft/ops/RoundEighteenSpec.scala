package graft.ops

import graft.SparkFixture
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Round-18 optimization pins: the exact all-pairs join's hex→long fast
  * path must be OUTPUT-IDENTICAL to the string path (the re-encode is a
  * bijection, so it cannot merge or split token sets), and the long
  * branch of [[graft.functions.SortedIntersectCount]] must agree with
  * both the string branch and `size(array_intersect)`. */
class RoundEighteenSpec extends AnyFunSuite {
  private lazy val spark = SparkFixture.spark
  import spark.implicits._

  test("hex→long re-encode is bijective at the edges (high bit, zero, mixed)") {
    // "ffffffffffffffff" wraps to -1L via shift-or; bijectivity is what
    // matters, not sign — distinct hex16 inputs must stay distinct longs
    val hexes = Seq(
      "0000000000000000", "0000000000000001", "00000000ffffffff",
      "ffffffff00000000", "ffffffffffffffff", "7fffffffffffffff",
      "8000000000000000", "deadbeefcafebabe", "0123456789abcdef")
    val out = hexes.toDF("t").select(expr(
      """shiftleft(cast(conv(substring(t, 1, 8), 16, 10) as bigint), 32)
        |  | cast(conv(substring(t, 9, 8), 16, 10) as bigint)""".stripMargin)
      .as("l")).as[Long].collect()
    assert(out.distinct.length === hexes.length)
    // spot values: the re-encode is exactly the 64-bit value of the hex
    assert(out(0) === 0L)
    assert(out(1) === 1L)
    assert(out(2) === 0xffffffffL)
    assert(out(4) === -1L) // 0xffffffffffffffff as a signed long
    assert(out(8) === 0x0123456789abcdefL)
  }

  test("sorted_intersect_count over longs ≡ string branch ≡ array_intersect") {
    val rnd = new scala.util.Random(18)
    val rows = (0 until 200).map { i =>
      val a = Seq.fill(rnd.nextInt(20))(rnd.nextInt(30).toLong).sorted
      val b = Seq.fill(rnd.nextInt(20))(rnd.nextInt(30).toLong).sorted
      (i, a, b)
    }
    val df = rows.toDF("i", "a", "b")
      .withColumn("sa", sort_array(expr("transform(a, x -> lpad(hex(x), 16, '0'))")))
      .withColumn("sb", sort_array(expr("transform(b, x -> lpad(hex(x), 16, '0'))")))
    val got = df.select(
      Dedup.sortedIntersectCount(col("a"), col("b")).as("longs"),
      Dedup.sortedIntersectCount(col("sa"), col("sb")).as("strings"),
      size(array_intersect(col("a"), col("b"))).as("builtin"))
      .collect()
    got.foreach { r =>
      assert(r.getInt(0) === r.getInt(2), "long branch vs array_intersect")
      assert(r.getInt(1) === r.getInt(2), "string branch vs array_intersect")
    }
  }

  test("allPairsJaccardTok: hexTokens fast path is row-identical to the string path") {
    // adversarial corpus: heavy shared boilerplate (the case that floods
    // the candidate set) plus engineered near-dups at the 0.5 boundary
    val base = "the quick brown fox jumps over the lazy dog again and again"
    val docs = (0L until 60L).map { i =>
      val extra = if (i % 3 == 0) s"unique$i token$i" else s"tail${i % 7}"
      (i, s"$base $extra")
    }.toDF("doc_id", "text")
    val tok = Dedup.bigramMd5Tok(docs, "doc_id", "text")
    val fast = Dedup.allPairsJaccardTok(tok, "doc_id", 0.5, hexTokens = true)
    val slow = Dedup.allPairsJaccardTok(tok, "doc_id", 0.5, hexTokens = false)
    assert(fast.exceptAll(slow).count() === 0L)
    assert(slow.exceptAll(fast).count() === 0L)
    assert(fast.count() > 0L, "the corpus must actually produce pairs")
    // word tokens under hexTokens = true fail the query instead of
    // merging distinct tokens into colliding longs
    val words = docs.select(col("doc_id"),
      array_distinct(split(col("text"), " ")).as("toks"))
    val err = intercept[Exception] {
      Dedup.allPairsJaccardTok(words, "doc_id", 0.5, hexTokens = true).count()
    }
    assert(Iterator.iterate[Throwable](err)(_.getCause).takeWhile(_ != null)
      .exists(e => String.valueOf(e.getMessage).contains("not 16 lower-case hex")))
    Materialize.clearCache()
  }
}
