package graft.sources

import graft.schema.{Metric, StorageKind}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StringType

/** Local stand-in for the nearline (DynamoDB) store: parquet-backed
  * "tables", one per time window, holding items in the reference's
  * compacted multi-write format (FIXTURES.md §3):
  *
  *   partition  string        -- concat(orgId, metricCanonicalId)
  *   sort       string        -- timestamp epoch millis, AS A STRING
  *                               (Dynamo N-values read as strings,
  *                                `DynamoRecordReader.java:201-216`)
  *   ids        array<string> -- write-ids packed into this item
  *   <field>    map<string,string>  -- per-field {writeId -> value}
  *
  * The item schema a read asks for comes from the registry
  * ([[Metric.storageSchema]] with [[StorageKind.Nearline]]), so building a
  * read starts no schema-inference job; a declared field with no column in
  * the table reads as a null map, and a field column that is not a
  * `map<string,string>` fails the read. Radio metrics infer the item schema,
  * because their unknown fields are columns no registry names.
  *
  * The AWS-backed implementation would sit behind the same read shape as a
  * DataSourceV2 table (one input partition per scan segment, pushed
  * filters); everything above the raw item read is shared.
  */
object NearlineStub {

  def readRaw(spark: SparkSession, desc: NearlineTableDesc, metric: Metric): DataFrame =
    metric.storageSchema(StorageKind.Nearline)
      .fold(spark.read)(spark.read.schema(_))
      .parquet(desc.path)

  /** Row-field expansion — the reference's DynamoRowFieldExpander operator
    * (`.../rel/expansion/phyiscal/DynamoExpanderBatch.java:60-156`) as a
    * built-in generator: one output row per write-id, each field's value
    * pulled out of that field's {writeId -> value} map. Two writes at the
    * same (partition, sort) therefore yield two rows
    * (`TestFineoOverDynamo.testReadOverlappingTimestampRow`).
    *
    * Spark-first: `explode` is a native Generator that stays in codegen and
    * lets Catalyst push filters below it where legal (replacing the
    * reference's hand-written `PushFilterPastDynamoRowExpander`).
    */
  def expandRows(raw: DataFrame): DataFrame = {
    val fieldMaps = raw.schema.fields.collect {
      case f if f.dataType.typeName == "map" => f.name
    }.sorted
    val exploded = raw.withColumn("_write_id", explode(col("ids")))
    val cols =
      col("partition") +:
        col("sort").as("timestamp") +:
        fieldMaps.map(m => element_at(col(s"`$m`"), col("_write_id")).cast(StringType).as(m))
    exploded.select(cols: _*)
  }

  /** Read one nearline table for one (org, metric): hash-key equality
    * pushed to the scan (the Dynamo branch's
    * `partition-key = mapper(org, metric)` filter,
    * `FineoRecombinatorRule` Dynamo path), then row-expanded.
    * Output columns: timestamp (string!), one string column per field. */
  def readForMetric(
      spark: SparkSession,
      desc: NearlineTableDesc,
      orgId: String,
      metric: Metric,
      mapper: KeyMapper = KeyMapper.Concat): DataFrame = {
    val raw = readRaw(spark, desc, metric)
      .filter(col("partition") === mapper.partitionKey(orgId, metric.canonicalId))
    expandRows(raw).drop("partition")
  }
}
