package graft.functions

import graft.SparkFixture
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.ColumnExpr
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** Native expression correctness + parity with the portable (HOF)
  * formulation — the invariant that lets the fast path replace the
  * portable path without changing any oracle-checked result. */
class FunctionsSpec extends AnyFunSuite with Matchers {
  private lazy val spark = SparkFixture.spark
  import scala.jdk.CollectionConverters._

  private def cosCol(a: String, b: String) =
    ColumnExpr.column(CosineSimilarity(
      ColumnExpr.expr(col(a)), ColumnExpr.expr(col(b))))

  private lazy val vecs = {
    val schema = StructType(Seq(
      StructField("id", LongType),
      StructField("a", ArrayType(FloatType)), StructField("b", ArrayType(FloatType))))
    val rnd = new scala.util.Random(7)
    val rows = (1L to 50L).map { i =>
      Row(i, Seq.fill(16)(rnd.nextFloat() - 0.5f), Seq.fill(16)(rnd.nextFloat() - 0.5f))
    }
    spark.createDataFrame(rows.asJava, schema)
  }

  test("cosine_similarity matches the portable HOF formulation bit-for-bit") {
    val both = vecs.select(
      cosCol("a", "b").as("native"),
      graft.ops.Similarity.cosinePortable(col("a"), col("b")).as("portable"))
    both.collect().foreach { r =>
      r.getDouble(0) shouldBe r.getDouble(1) // exact, not approx
    }
  }

  test("cosine_similarity basics: identical → 1, orthogonal → 0, zero-norm → 0") {
    val schema = StructType(Seq(
      StructField("a", ArrayType(FloatType)), StructField("b", ArrayType(FloatType))))
    val rows = Seq(
      Row(Seq(1f, 2f), Seq(1f, 2f)),
      Row(Seq(1f, 0f), Seq(0f, 1f)),
      Row(Seq(0f, 0f), Seq(1f, 1f)),
      Row(null, Seq(1f, 1f)),
      Row(Seq(1f, 2f, 3f), Seq(1f, 2f))) // length mismatch → null
    val df = spark.createDataFrame(rows.asJava, schema)
    val out = df.select(cosCol("a", "b").as("c")).collect()
    out(0).getDouble(0) shouldBe 1.0 +- 1e-9
    out(1).getDouble(0) shouldBe 0.0
    out(2).getDouble(0) shouldBe 0.0
    out(3).isNullAt(0) shouldBe true
    out(4).isNullAt(0) shouldBe true
  }

  test("dot_product matches the portable HOF formulation bit-for-bit (incl. mixed float/double)") {
    import graft.ops.Similarity
    // float·float and float·double-literal-plane — the banding shape
    val plane = array((0 until 16).map(d => lit(Similarity.planeComponent(3, d))): _*)
    val both = vecs.select(
      Similarity.dotNative(col("a"), col("b")).as("n1"),
      Similarity.dot(col("a"), col("b")).as("p1"),
      Similarity.dotNative(col("a"), plane).as("n2"),
      Similarity.dot(col("a"), plane).as("p2"))
    both.collect().foreach { r =>
      r.getDouble(0) shouldBe r.getDouble(1) // exact, not approx
      r.getDouble(2) shouldBe r.getDouble(3)
    }
    // null / length-mismatch parity with the HOF (zip_with pads → null sum)
    val schema = StructType(Seq(
      StructField("a", ArrayType(FloatType)), StructField("b", ArrayType(FloatType))))
    val rows = Seq(Row(null, Seq(1f, 1f)), Row(Seq(1f, 2f, 3f), Seq(1f, 2f)))
    val df = spark.createDataFrame(rows.asJava, schema)
    val out = df.select(Similarity.dotNative(col("a"), col("b")).as("d")).collect()
    out(0).isNullAt(0) shouldBe true
    out(1).isNullAt(0) shouldBe true
  }

  test("hamming_distance counts differing positions; null on length mismatch") {
    val schema = StructType(Seq(
      StructField("x", StringType), StructField("y", StringType)))
    val rows = Seq(Row("10110", "10011"), Row("aaaa", "aaaa"), Row("ab", "abc"))
    val df = spark.createDataFrame(rows.asJava, schema)
    val h = ColumnExpr.column(HammingDistance(ColumnExpr.expr(col("x")), ColumnExpr.expr(col("y"))))
    val out = df.select(h.as("d")).collect()
    out(0).getInt(0) shouldBe 2
    out(1).getInt(0) shouldBe 0
    out(2).isNullAt(0) shouldBe true
  }

  test("extensions register SQL functions incl. the reference's fineo_base64_decode") {
    val s = spark
    GraftExtensions.register(s)
    val r = s.sql(
      "SELECT cast(fineo_base64_decode('aGk=') AS STRING) AS s, " +
        "cosine_similarity(array(1.0D, 0.0D), array(1.0D, 0.0D)) AS c, " +
        "hamming_distance('101', '100') AS h").collect().head
    r.getString(0) shouldBe "hi"
    r.getDouble(1) shouldBe 1.0
    r.getInt(2) shouldBe 1
  }

  test("sorted_intersect_count ≡ size(array_intersect) on random sets, incl. duplicates") {
    import org.apache.spark.sql.functions._
    val rnd = new scala.util.Random(13)
    val rows = (1L to 60L).map { i =>
      def arr() = Seq.fill(rnd.nextInt(40))(s"t${rnd.nextInt(30)}")
      Row(i, arr(), arr())
    }
    val schema = StructType(Seq(StructField("id", LongType),
      StructField("a", ArrayType(StringType)), StructField("b", ArrayType(StringType))))
    val df = spark.createDataFrame(rows.asJava, schema)
    val both = df.select(
      graft.ops.Dedup.sortedIntersectCount(
        sort_array(col("a")), sort_array(col("b"))).as("fast"),
      org.apache.spark.sql.functions.size(
        array_intersect(col("a"), col("b"))).as("portable"))
    both.collect().foreach { r =>
      r.getInt(0) shouldBe r.getInt(1)
    }
    // two instances in ONE projection must not collide in codegen
    // (the round-10 freshName lesson)
    df.select(
      graft.ops.Dedup.sortedIntersectCount(sort_array(col("a")), sort_array(col("b"))).as("x"),
      graft.ops.Dedup.sortedIntersectCount(sort_array(col("b")), sort_array(col("a"))).as("y"))
      .collect().foreach(r => r.getInt(0) shouldBe r.getInt(1))
    // the long branch would read a null element as 0L: arrays that may
    // hold nulls are refused at analysis
    val nullableLongs = spark.range(1).select(
      array(lit(1L), lit(null).cast("long")).as("a"), array(lit(1L)).as("b"))
    val refused = intercept[org.apache.spark.sql.AnalysisException] {
      nullableLongs.select(
        graft.ops.Dedup.sortedIntersectCount(col("a"), col("b"))).collect()
    }
    refused.getMessage should include ("cannot be null")
  }

  test("codegen path actually compiles (no fallback to interpreted)") {
    // force a plan through codegen and check it returns; a doGenCode bug
    // would surface as a janino compile error here
    val out = vecs.filter(cosCol("a", "b") > -2).count()
    out shouldBe 50
  }

  // Zipf-ish stream: item i appears ~N/i times, shuffled deterministically
  private def zipfItems(distinct: Int, scale: Int): Seq[String] = {
    val items = (1 to distinct).flatMap(i => Seq.fill(scale / i)(s"item$i"))
    new scala.util.Random(11).shuffle(items)
  }

  test("graft_topk is exact and partitioning-invariant when capacity covers the vocabulary") {
    graft.functions.GraftExtensions.register(spark)
    import spark.implicits._
    val data = zipfItems(distinct = 40, scale = 400)
    val truth = data.groupBy(identity).view.mapValues(_.size.toLong).toSeq
      .sortBy { case (item, cnt) => (-cnt, item) }.take(10)
    for (parts <- Seq(1, 7, 32)) {
      val df = data.toDF("tok").repartition(parts)
      df.createOrReplaceTempView("toks")
      val got = spark.sql("SELECT explode(graft_topk(tok, 10, 64)) AS e FROM toks")
        .select("e.item", "e.cnt", "e.err")
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      withClue(s"parts=$parts: ") {
        got.map(t => (t._1, t._2)).toSeq shouldBe truth
        all(got.map(_._3)) shouldBe 0L // no eviction → no error
      }
    }
  }

  test("graft_topk approximate regime: never undercounts, error bound honest") {
    graft.functions.GraftExtensions.register(spark)
    import spark.implicits._
    // 500 distinct items through capacity 32: heavy evictions
    val data = zipfItems(distinct = 500, scale = 2000)
    val truth = data.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val got = data.toDF("tok").repartition(5)
      .selectExpr("explode(graft_topk(tok, 5, 32)) AS e")
      .select("e.item", "e.cnt", "e.err")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    got should have size 5
    got.foreach { case (item, cnt, err) =>
      val t = truth(item)
      withClue(s"$item true=$t cnt=$cnt err=$err: ") {
        cnt should be >= t        // SpaceSaving never undercounts
        (cnt - err) should be <= t // and err bounds the overcount
      }
    }
    // the undisputed heaviest item (item1, ~scale hits, far above the
    // eviction floor) must surface
    got.map(_._1) should contain("item1")
  }

  test("graft_topk sketches serialize/deserialize losslessly (shuffle safety)") {
    val agg = TopKCountSketch(ColumnExpr.expr(col("x")), k = 3, capacity = 8)
    val b = new SpaceSavingBuffer(8)
    Seq("a", "a", "b", "c", "c", "c").foreach(b.add(_))
    val b2 = agg.deserialize(agg.serialize(b))
    b2.capacity shouldBe 8
    b2.floor shouldBe 0L
    b2.topK(3) shouldBe b.topK(3)
    // and a buffer that HAS evicted round-trips its floor
    val small = new SpaceSavingBuffer(2)
    Seq("a", "b", "c", "d").foreach(small.add(_))
    val small2 = agg.deserialize(agg.serialize(small))
    small2.floor shouldBe small.floor
    small2.floor should be > 0L
  }
}
