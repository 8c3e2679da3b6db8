package graft
import graft.frontend.JsonCodec.jstr
import org.apache.spark.sql.graftshim.GraftSessions
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // optional 3rd+ args: restrict to named queries (local iteration only;
    // the driver always passes exactly two args → full battery)
    val only = args.drop(2).toSet
    val spark = GraftSessions.builder().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.functions.GraftExtensions.register(spark)
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries
      .filter { case (name, _) => only.isEmpty || only(name) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      // terminal action done — reclaim this query's materialized indexes
      finally graft.ops.Materialize.dropAll()
    }
    writeOracleSql(s"$outDir/oracle_sql.json")
    graft.ops.Materialize.clearCache()
    spark.stop()
  }

  /** Write `SparkEntry.oracleSql` as one JSON object (key → DuckDB SQL).
    * Every control character is escaped: a tab or CR in hand-written SQL
    * would otherwise make the DuckDB compare's json.load fail and zero
    * every correctness result at once. */
  def writeOracleSql(file: String): Unit = {
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${jstr(k)}: ${jstr(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(file), json)
  }
}
