package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.graftshim.GraftSessions

/** One shared local SparkSession for the whole forked test JVM. */
object SparkFixture {
  lazy val spark: SparkSession = {
    val s = GraftSessions.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      // FAIR across scheduler pools: the serving layer runs each tenant
      // in its own pool (TenantSession.runGated) so a slow scan cannot
      // head-block another tenant's point query — must be set at
      // SparkContext creation, hence here on the shared fixture
      .config("spark.scheduler.mode", "FAIR")
      .config("spark.sql.debug.maxToStringFields", "1000")
      .config("spark.sql.maxMetadataStringLength", "2000")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Fresh temp dir under the JVM tmpdir, deleted on exit. */
  def tempDir(prefix: String): String = {
    val d = java.nio.file.Files.createTempDirectory(prefix)
    d.toFile.deleteOnExit()
    d.toString
  }
}
