package graft.frontend

import org.apache.spark.sql.SparkSession

/** Owns the serving layer's FAIR-scheduling precondition.
  *
  * The per-tenant isolation story (one pool per tenant via
  * [[TenantSession.runGated]] / the Thrift session pool conf) only works
  * when the shared context runs `spark.scheduler.mode=FAIR` — and that
  * conf is STATIC: Spark's task scheduler picks its scheduling mode at
  * SparkContext creation and never re-reads it, so a server boot cannot
  * correct a FIFO context after the fact. What the product CAN do, and
  * does here at every server boot, is check the live context and shout:
  * a deployment that forgot the conf gets a loud, named warning (and an
  * observable metric) instead of silently FIFO-head-blocking every
  * tenant behind the biggest scan.
  *
  * A pool-weight template ships at `graft-fairscheduler.xml` on the
  * classpath; point `spark.scheduler.allocation.file` at a copy to give
  * tenants non-default weights (equal-weight tenants need no file —
  * pools materialize on first use).
  */
object ServingFairness {

  private val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** How the scheduler mode is read off a session. A `var` ONLY as a
    * test seam: one SparkContext per JVM means a spec cannot boot a real
    * FIFO context next to the FAIR fixture, so the FIFO-boot spec swaps
    * this to simulate one (and restores it). Production never touches
    * it — the default reads the context's static conf, the one the task
    * scheduler actually obeyed at creation. */
  private[frontend] var modeOf: SparkSession => String =
    _.sparkContext.getConf.get("spark.scheduler.mode", "FIFO")

  /** True iff the session's context schedules FAIR. When it doesn't,
    * log one warning naming the server and bump
    * `serving.scheduler_not_fair` on `metrics` so the condition is
    * visible on the /metrics endpoint, not just in a boot log. */
  def ensureFair(spark: SparkSession, server: String, metrics: ServingMetrics): Boolean = {
    val mode = modeOf(spark)
    val fair = mode.equalsIgnoreCase("FAIR")
    if (!fair) {
      metrics.inc("serving.scheduler_not_fair")
      log.warn(
        s"$server: spark.scheduler.mode=$mode (expected FAIR). Per-tenant " +
          "pools will NOT isolate tenants — one tenant's scan FIFO-head-blocks " +
          "every other tenant's statements. Set spark.scheduler.mode=FAIR on " +
          "the serving context at creation (static conf; cannot be fixed " +
          "after boot), optionally with spark.scheduler.allocation.file " +
          "pointed at a copy of the classpath template graft-fairscheduler.xml.")
    }
    fair
  }
}
