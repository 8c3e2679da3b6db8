package graft.core

import graft.SparkFixture
import graft.schema.{Field, FieldType, Metric}
import graft.sources.{FsSource, NearlineStub, NearlineTableDesc, SourceSet}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._
import org.scalacheck.{Gen, Properties}
import org.scalacheck.Prop.forAll

/** Reading with the registry-derived storage schema
  * ([[Metric.storageSchema]]) gives the same table as reading with an
  * inferred schema, on random metrics: fields with aliases and canonical
  * names, storage columns spelled in another case than declared, every
  * declared type the archives carry, declared columns missing from the
  * files and undeclared columns present in them. Each case writes a
  * Parquet archive (with `date=` partitions) and two nearline windows; the
  * expected table is recombined here from `spark.read.parquet` raw reads. */
object StorageSchemaProps extends Properties("StorageSchema") {
  override def overrideParameters(p: org.scalacheck.Test.Parameters): org.scalacheck.Test.Parameters =
    p.withMinSuccessfulTests(10)

  private lazy val spark = SparkFixture.spark
  private val Org = "orgs"
  private val Types = Seq(FieldType.LONG, FieldType.BOOLEAN, FieldType.STRING, FieldType.BYTES,
    FieldType.DECIMAL)

  /** A declared field, and the storage spelling of each of its source
    * columns that the files carry (a source column left out is missing
    * from every file). */
  final case class Declared(field: Field, stored: Seq[String])

  /** Source column names are unique across fields; inside one field an
    * alias may repeat the user name in another case (de-duplicated). */
  private def genField(i: Int): Gen[Declared] = for {
    t <- Gen.oneOf(Types)
    dec <- Gen.oneOf(None, Some((20, 4)))
    nAliases <- Gen.choose(0, 2)
    caseDupAlias <- Gen.frequency(4 -> false, 1 -> true)
    hasCname <- Gen.oneOf(true, false)
    name = s"f$i"
    aliases = (if (caseDupAlias) Seq(name.toUpperCase) else Nil) ++
      (0 until nAliases).map(j => s"a${i}_$j")
    field = Field(name, t, aliases, if (hasCname) Some(s"c$i") else None,
      if (t == FieldType.DECIMAL) dec else None)
    distinct = field.sourceColumns.foldLeft(Vector.empty[String]) { (acc, c) =>
      if (acc.exists(_.equalsIgnoreCase(c))) acc else acc :+ c
    }
    present <- Gen.someOf(distinct)
    spelled <- Gen.sequence[Seq[String], String](present.toSeq.map(c =>
      Gen.oneOf(c, c.toUpperCase, c.capitalize)))
  } yield Declared(field, spelled)

  private val genMetric: Gen[Seq[Declared]] =
    Gen.choose(1, 4).flatMap(n => Gen.sequence[Seq[Declared], Declared]((0 until n).map(genField)))

  /** A stored value for a field's type, as the Parquet archive stores it
    * (DECIMAL as a number in a string) and as nearline text. */
  private def genValue(t: FieldType.Value): Gen[Option[Any]] = Gen.frequency[Option[Any]](
    1 -> Gen.const(None),
    4 -> ((t match {
      case FieldType.LONG    => Gen.choose(-1000L, 1000L)
      case FieldType.BOOLEAN => Gen.oneOf(true, false)
      case FieldType.STRING  => Gen.alphaStr.map(_.take(6))
      case FieldType.BYTES   => Gen.listOfN(3, Gen.choose(0, 255)).map(_.map(_.toByte).toArray)
      case _                 => Gen.choose(-99999L, 99999L).map(n => java.math.BigDecimal.valueOf(n, 2).toPlainString)
    }): Gen[Any]).map(Some(_)))

  private def archiveType(t: FieldType.Value): DataType = t match {
    case FieldType.LONG    => LongType
    case FieldType.BOOLEAN => BooleanType
    case FieldType.BYTES   => BinaryType
    case _                 => StringType
  }

  private def text(v: Any): String = v match {
    case b: Array[Byte] => new String(b, "ISO-8859-1")
    case x              => x.toString
  }

  /** (stored column, field type) for every column the files carry. */
  private def storedColumns(ds: Seq[Declared]): Seq[(String, FieldType.Value)] =
    ds.flatMap(d => d.stored.map(_ -> d.field.ftype))

  private def genRows(cols: Seq[(String, FieldType.Value)], n: Int): Gen[Seq[Seq[Option[Any]]]] =
    Gen.listOfN(n, Gen.sequence[Seq[Option[Any]], Option[Any]](cols.map(c => genValue(c._2))))

  final case class Case(
      declared: Seq[Declared],
      archive: Seq[Seq[Option[Any]]],
      nearline: Seq[Seq[Seq[Option[Any]]]])

  private val genCase: Gen[Case] = for {
    ds <- genMetric
    cols = storedColumns(ds)
    archive <- Gen.choose(1, 6).flatMap(genRows(cols, _))
    nearline <- Gen.listOfN(2, Gen.choose(1, 4).flatMap(genRows(cols, _)))
  } yield Case(ds, archive, nearline)

  private def write(c: Case, cid: String): (Metric, SourceSet) = {
    val metric = Metric(cid, "m", c.declared.map(_.field))
    val cols = storedColumns(c.declared)
    val dir = SparkFixture.tempDir("storage_props")
    import scala.jdk.CollectionConverters._

    // archive: internal fields, the stored columns, one undeclared column;
    // a row of another tenant too; two `date=` partitions
    val archiveSchema = StructType(Seq(
      StructField("companykey", StringType), StructField("metrictype", StringType),
      StructField("timestamp", LongType), StructField("date", StringType)) ++
      cols.map { case (n, t) => StructField(n, archiveType(t)) } :+
      StructField("x_undeclared", StringType))
    val archiveRows = c.archive.zipWithIndex.map { case (vs, i) =>
      Row.fromSeq(Seq(Org, cid, i * 10L, s"2024-01-0${1 + i % 2}") ++ vs.map(_.orNull) :+ s"u$i")
    } :+ Row.fromSeq(Seq("other", cid, 5L, "2024-01-01") ++ cols.map(_ => null) :+ "o")
    spark.createDataFrame(archiveRows.asJava, archiveSchema)
      .write.partitionBy("date").parquet(s"$dir/0/parquet/$Org/$cid")

    // nearline: two windows of one-write items, every value as text, one
    // undeclared map column and one undeclared plain column
    val map = MapType(StringType, StringType)
    val nlSchema = StructType(Seq(
      StructField("partition", StringType), StructField("sort", StringType),
      StructField("ids", ArrayType(StringType))) ++
      cols.map { case (n, _) => StructField(n, map) } ++
      Seq(StructField("x_map", map), StructField("x_plain", LongType)))
    val windows = c.nearline.zipWithIndex.map { case (rows, w) =>
      val start = 1000L * (w + 1)
      val path = s"$dir/nearline/t$w"
      val items = rows.zipWithIndex.map { case (vs, i) =>
        Row.fromSeq(Seq(Org + cid, (start + i).toString, Seq("w1")) ++
          vs.map(_.map(v => Map("w1" -> text(v))).orNull) ++ Seq(Map("w1" -> "x"), 7L))
      }
      spark.createDataFrame(items.asJava, nlSchema).write.parquet(path)
      NearlineTableDesc(s"t_${start}_${start + 1000}", path, start, start + 1000)
    }
    (metric, SourceSet(fs = Seq(FsSource("parquet", dir)), nearline = windows))
  }

  /** The table as inference reads it: every raw frame from
    * `spark.read.parquet`, recombined the way the assembler does. */
  private def inferred(metric: Metric, sources: SourceSet): DataFrame = {
    val archive = Recombinator.recombine(
      spark.read.parquet(sources.fs.head.metricPath(Org, metric.canonicalId)), Org, metric)
    val nearline = sources.nearline.map { desc =>
      val raw = spark.read.parquet(desc.path).filter(col("partition") === Org + metric.canonicalId)
      Recombinator.project(NearlineStub.expandRows(raw).drop("partition"), metric, bytesAreBase64 = false)
    }
    (archive +: nearline).reduce(_.unionByName(_, allowMissingColumns = true))
  }

  private def rows(df: DataFrame): Seq[Seq[Any]] =
    df.collect().toSeq.map(_.toSeq.map {
      case b: Array[Byte] => b.toSeq
      case x              => x
    }).sortBy(_.mkString("|"))

  private val ids = new java.util.concurrent.atomic.AtomicInteger

  property("declared storage schemas read the same table as inference") = forAll(genCase) { c =>
    val (metric, sources) = write(c, s"c${ids.incrementAndGet()}")
    val declared = Assembler.metricTable(spark, Org, metric, sources)
    val expected = inferred(metric, sources)
    declared.schema.fieldNames.toSeq == expected.schema.fieldNames.toSeq &&
      rows(declared) == rows(expected)
  }
}
