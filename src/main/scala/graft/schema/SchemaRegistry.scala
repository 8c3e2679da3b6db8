package graft.schema

import org.apache.spark.sql.types._
import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import scala.jdk.CollectionConverters._

/** Avro-primitive field types supported by the engine.
  *
  * Mirrors the reference type mapping (SURVEY.md §1.2;
  * reference `fineo-adapter-drill/.../schema/FineoTable.java:74-93`):
  * STRING→VARCHAR, BOOLEAN, BYTES→BINARY (base64 on the JSON path),
  * INT, LONG, FLOAT, DOUBLE — plus DECIMAL, which the reference scaffolds
  * but never shipped (`storage-dynamo/.../DynamoRecordReader.java:26-39`
  * reads Dynamo `N` as string with "TODO replace with decimal38"): here a
  * tenant CAN declare a DECIMAL field; storage numbers-as-strings cast to
  * it losslessly at recombine time. Default precision/scale is (38, 9)
  * (Dynamo `N`'s 38-digit ceiling); per-field override on [[Field]].
  */
object FieldType extends Enumeration {
  val STRING, BOOLEAN, BYTES, INT, LONG, FLOAT, DOUBLE, DECIMAL = Value

  val DefaultDecimalPrecision = 38
  val DefaultDecimalScale = 9

  def toSpark(t: Value): DataType = t match {
    case STRING  => StringType
    case BOOLEAN => BooleanType
    case BYTES   => BinaryType
    case INT     => IntegerType
    case LONG    => LongType
    case FLOAT   => FloatType
    case DOUBLE  => DoubleType
    case DECIMAL => DecimalType(DefaultDecimalPrecision, DefaultDecimalScale)
  }
}

/** Where a metric's rows are stored: the archive's two file formats and
  * the nearline item tables. Each kind holds the declared fields in its
  * own physical shape ([[Metric.storageSchema]]). */
object StorageKind extends Enumeration {
  val Json, Parquet, Nearline = Value
}

/** A user-visible field of a metric.
  *
  * @param name    user-visible name (what queries reference)
  * @param ftype   declared type; storage values are cast to this at
  *                recombine time (declared types always win, even over
  *                nearline string-numbers — SURVEY.md §7.4)
  * @param aliases storage column names that also feed this field
  * @param cname   canonical storage id
  *
  * Coalesce precedence on read: user name, then aliases in declared order,
  * then cname (reference `FineoRecombinatorRule.java:96-107`).
  *
  * `decimal` sets precision/scale when `ftype` is DECIMAL (ignored
  * otherwise); absent, DECIMAL(38, 9).
  */
case class Field(
    name: String,
    ftype: FieldType.Value,
    aliases: Seq[String] = Nil,
    cname: Option[String] = None,
    decimal: Option[(Int, Int)] = None) {
  /** All storage columns that may feed this field, in coalesce order. */
  def sourceColumns: Seq[String] = (name +: aliases) ++ cname.toSeq
  def sparkType: DataType = (ftype, decimal) match {
    case (FieldType.DECIMAL, Some((p, s))) => DecimalType(p, s)
    case (t, _)                            => FieldType.toSpark(t)
  }
}

/** A metric = one logical, tenant-visible table.
  *
  * @param canonicalId storage id (rows carry it in `metrictype`)
  * @param displayName user-visible table name
  * @param tableAliases alternate user-visible names for the table
  *                     (reference `FineoSchema.getMetricForUserNameOrAlias`)
  * @param radioEnabled when true, unknown storage fields are gathered into
  *                     the `_fm` map column instead of being dropped
  */
case class Metric(
    canonicalId: String,
    displayName: String,
    fields: Seq[Field],
    tableAliases: Seq[String] = Nil,
    radioEnabled: Boolean = false) {

  /** Declared output schema: `timestamp BIGINT` base field + user fields
    * (+ `_fm map<string,string>` when radio is on).
    * Mirrors `FineoTable.getRowType` (reference `FineoTable.java:53-98`). */
  def structType: StructType = {
    val base = StructField(Metric.TimestampField, LongType, nullable = false)
    val user = fields.map(f => StructField(f.name, f.sparkType, nullable = true))
    val radio =
      if (radioEnabled)
        Seq(StructField(Metric.RadioField, MapType(StringType, StringType), nullable = true))
      else Nil
    StructType(base +: user :++ radio)
  }

  /** Storage schema of this metric's rows in `kind`, derived from the
    * registry, so that a read needs no schema-inference pass (on Parquet
    * and JSON that pass is a Spark job per read; at 100 TB it is a full
    * extra read of every file). It holds the kind's own row fields plus
    * every source column of every declared field (user name, aliases,
    * canonical name), de-duplicated case-insensitively (first wins):
    *  - `Json`: `companykey`, `metrictype`, `timestamp`, `writetime`,
    *    `aliasname`; each source column at the type JSON carries it as:
    *    BYTES as base64 text, DECIMAL as text, others at the declared type.
    *    A value a file carries at an incompatible type becomes null
    *    (PERMISSIVE), consistent with "declared types always win"
    *    (SURVEY.md §7.4).
    *  - `Parquet`: the same row fields; BYTES as binary, DECIMAL as text,
    *    others at the declared type. A column stored at another type fails
    *    the read; it never reads as null. The `date=` partition columns
    *    are still discovered from the directories.
    *  - `Nearline`: `partition string`, `sort string`, `ids array<string>`
    *    and one `map<string,string>` per source column (FIXTURES.md §3).
    *
    * DECIMAL rides as text on every kind: numbers are stored as strings
    * (the reference reads Dynamo `N` as string, DynamoRecordReader.java:26-39),
    * and the string → declared-decimal cast at recombine time is
    * lossless, where a JSON number would round-trip through a binary
    * double and lose digits 16+. A declared column missing from the files
    * reads as null; the recombinator coalesces over the present ones.
    *
    * Radio metrics return None and must infer: unknown columns are part of
    * their contract. */
  def storageSchema(kind: StorageKind.Value): Option[StructType] =
    if (radioEnabled) None
    else {
      val rowFields = kind match {
        case StorageKind.Nearline => Seq(
          StructField("partition", StringType),
          StructField("sort", StringType),
          StructField("ids", ArrayType(StringType)))
        case StorageKind.Json | StorageKind.Parquet => Seq(
          StructField(Metric.OrgKey, StringType),
          StructField(Metric.MetricTypeKey, StringType),
          StructField(Metric.TimestampField, LongType),
          StructField(Metric.WriteTimeField, LongType),
          StructField(Metric.AliasNameField, StringType))
      }
      def carrier(f: Field): DataType = (kind, f.ftype) match {
        case (StorageKind.Nearline, _)           => MapType(StringType, StringType)
        case (_, FieldType.DECIMAL)              => StringType
        case (StorageKind.Json, FieldType.BYTES) => StringType
        case _                                   => f.sparkType
      }
      val user = fields.flatMap(f => f.sourceColumns.map(StructField(_, carrier(f))))
      val deduped = (rowFields ++ user)
        .foldLeft(Vector.empty[StructField]) { (acc, sf) =>
          if (acc.exists(_.name.equalsIgnoreCase(sf.name))) acc else acc :+ sf
        }
      Some(StructType(deduped))
    }

  /** Every storage column name that maps to some declared field (lowercased). */
  def knownStorageColumns: Set[String] =
    fields.flatMap(_.sourceColumns).map(_.toLowerCase).toSet ++
      Metric.InternalFields.map(_.toLowerCase) + Metric.TimestampField
}

object Metric {
  val TimestampField = "timestamp"
  val RadioField = "_fm"
  /** Internal row fields present on every stored row, excluded from user
    * results (reference `FineoCommon.java:19-20`, FIXTURES.md §2). */
  val OrgKey = "companykey"
  val MetricTypeKey = "metrictype"
  val WriteTimeField = "writetime"
  val AliasNameField = "aliasname"
  val InternalFields: Seq[String] = Seq(OrgKey, MetricTypeKey, WriteTimeField, AliasNameField)
}

/** A tenant. One SQL namespace per org; metrics looked up by display name
  * or alias, case-insensitively. */
case class Org(orgId: String, metrics: Seq[Metric]) {
  def metricForNameOrAlias(name: String): Option[Metric] = {
    val lower = name.toLowerCase
    metrics.find(m =>
      m.displayName.toLowerCase == lower || m.tableAliases.exists(_.toLowerCase == lower))
  }
}

/** Org → metric schema registry. Stand-in for the reference's
  * DynamoDB-backed `SchemaStore` (SURVEY.md §1.3): JSON-file-backed here,
  * same lookup surface. Mutable like the real store — metric deletion /
  * addition is visible to open sessions on their next statement (the
  * schema-store-driven visibility semantics of
  * `TestFineoReadTable.java:271-287`-adjacent tests), because sessions
  * resolve tables per-statement rather than caching views. Thread-safe:
  * reads see a consistent immutable snapshot; writes swap it atomically.
  */
class SchemaRegistry(@volatile private var orgs: Map[String, Org]) {
  def org(orgId: String): Option[Org] = orgs.get(orgId)
  def metric(orgId: String, table: String): Option[Metric] =
    org(orgId).flatMap(_.metricForNameOrAlias(table))
  /** Tenant-scoped table listing (info-schema surface, SURVEY.md §2.1 S8). */
  def listTables(orgId: String): Seq[String] =
    org(orgId).map(_.metrics.map(_.displayName).sorted).getOrElse(Nil)

  /** Delete a metric (by display name or alias): its logical table
    * disappears from listings and resolution on the next statement. */
  def removeMetric(orgId: String, table: String): Unit = synchronized {
    orgs.get(orgId).foreach { o =>
      orgs = orgs.updated(orgId, o.copy(metrics = o.metrics.filterNot(m =>
        m.displayName.equalsIgnoreCase(table) ||
          m.tableAliases.exists(_.equalsIgnoreCase(table)))))
    }
  }

  /** Register a new metric mid-session. */
  def addMetric(orgId: String, metric: Metric): Unit = synchronized {
    orgs.get(orgId).foreach(o =>
      orgs = orgs.updated(orgId, o.copy(metrics = o.metrics :+ metric)))
  }
}

object SchemaRegistry {
  def apply(orgs: Org*): SchemaRegistry =
    new SchemaRegistry(orgs.map(o => o.orgId -> o).toMap)

  /** Load from a JSON file:
    * {"orgs":[{"orgId":..., "metrics":[{"canonicalId":...,"displayName":...,
    *   "radioEnabled":bool, "aliases":[...],
    *   "fields":[{"name":...,"type":"LONG","aliases":[...],"cname":...}]}]}]}
    */
  def fromJson(json: String): SchemaRegistry = {
    val root = new ObjectMapper().readTree(json)
    def arr(n: JsonNode, f: String): Seq[JsonNode] =
      Option(n.get(f)).map(_.elements().asScala.toSeq).getOrElse(Nil)
    def strs(n: JsonNode, f: String): Seq[String] = arr(n, f).map(_.asText)
    val orgs = arr(root, "orgs").map { o =>
      val metrics = arr(o, "metrics").map { m =>
        val DecimalRe = """DECIMAL\s*\(\s*(\d+)\s*,\s*(\d+)\s*\)""".r
        val fields = arr(m, "fields").map { f =>
          val (ftype, dec) = f.get("type").asText.toUpperCase.trim match {
            case DecimalRe(p, s) => (FieldType.DECIMAL, Some((p.toInt, s.toInt)))
            case other           => (FieldType.withName(other), None)
          }
          Field(
            f.get("name").asText,
            ftype,
            strs(f, "aliases"),
            Option(f.get("cname")).map(_.asText),
            dec)
        }
        Metric(
          m.get("canonicalId").asText,
          m.get("displayName").asText,
          fields,
          strs(m, "aliases"),
          Option(m.get("radioEnabled")).exists(_.asBoolean))
      }
      Org(o.get("orgId").asText, metrics)
    }
    new SchemaRegistry(orgs.map(o => o.orgId -> o).toMap)
  }

  def fromFile(path: String): SchemaRegistry =
    fromJson(new String(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path)), "UTF-8"))
}
