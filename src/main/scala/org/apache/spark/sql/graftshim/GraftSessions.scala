package org.apache.spark.sql.graftshim

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.parser.ParserInterface

/** Session construction: the one builder every graft main starts from,
  * and the hooks that need `private[sql]` access.
  *
  * `SparkSession.builder().withExtensions(...)` only applies extensions to
  * a NEW SparkContext's first session — `getOrCreate` on a live context
  * returns the existing session and silently drops them, and
  * `newSession()` copies the parent's extensions verbatim. A serving
  * endpoint that needs its OWN parser (the Thrift wire's statement gate) must
  * therefore construct the session directly, sharing the SparkContext and
  * SharedState (so cached data and the global temp view namespace stay
  * one engine) while carrying its private extensions. */
object GraftSessions {

  /** The local session builder every graft main (and the test fixture)
    * starts from, carrying the settings the engine depends on:
    *  - `local[n]` with n from `SPARK_GRAFT_CPUS` (default 32), and as
    *    many shuffle partitions;
    *  - UTC session time zone, so time bucketing agrees with the oracle;
    *  - `spark.sql.legacy.parquet.nanosAsLong`: `events.ts` is parquet
    *    TIMESTAMP(NANOS), unreadable without it (`Tables.load` converts
    *    the long back to a microsecond timestamp);
    *  - `spark.sql.parquet.pushdown.inFilterThreshold=1024`: literal
    *    block-key probes (`StandingState.ProbeLiteralCap` keys) must reach
    *    the parquet reader as an IN filter, not a min/max range that
    *    random hash keys render useless;
    *  - no Spark UI.
    * Callers add their own settings (the serving soak's FAIR scheduler)
    * before `getOrCreate()`; a later `master`/`config` overrides these. */
  def builder(): SparkSession.Builder = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.parquet.pushdown.inFilterThreshold", "1024")
      .config("spark.ui.enabled", "false")
  }

  /** Set a STATIC SQL conf so sessions constructed AFTER this call observe
    * it at session-state init. Static SQL confs are merged from
    * `sharedState.conf` — a SparkConf snapshot taken when the SharedState
    * was first created — NOT from the live `sparkContext.conf`, so on an
    * already-running context the SharedState copy is the one that counts.
    * Both are `private[spark]`/`private[sql]`; this package is under
    * `org.apache.spark.sql`, so the access is legal here and nowhere else. */
  def setStaticConf(root: SparkSession, key: String, value: String): Unit = {
    root.sparkContext.conf.set(key, value)
    root.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sharedState.conf.set(key, value)
  }

  /** Block until queued SparkListener events are delivered — task-end
    * metrics arrive async, so a snapshot taken right after an action
    * undercounts without this. `listenerBus` is `private[spark]`. */
  def drainListenerBus(root: SparkSession): Unit =
    root.sparkContext.listenerBus.waitUntilEmpty()

  /** Release the blocks of an eager `localCheckpoint` once the checkpoint
    * has been superseded. `Dataset.localCheckpoint` pins the materialized
    * rows in the block manager and nothing ever unpins them — an iterative
    * loop that checkpoints each round (label propagation, PageRank-style
    * convergence) otherwise accumulates rounds × |table| of storage until
    * the context dies. The checkpointed RDD sits behind the Dataset's
    * `LogicalRDD` leaf; reaching it needs `private[sql]` access. */
  def unpersistLocalCheckpoint(df: org.apache.spark.sql.DataFrame): Unit =
    df.queryExecution.logical match {
      case l: org.apache.spark.sql.execution.LogicalRDD =>
        l.rdd.unpersist(blocking = false)
      case _ => ()
    }

  /** A new session over `root`'s SparkContext/SharedState whose parser is
    * `wrap(session, delegate)` — every statement the session ever parses,
    * from any entry point (sql(), Thrift operations), goes through the
    * wrapper. Because the injected extensions ride the session object,
    * `newSession()` CLONES (e.g. the Thrift frontend's per-connection
    * sessions) re-apply the same builder with THEIR session — the hook a
    * multi-tenant endpoint needs to scope each connection's parser to that
    * connection's session state. The 6-arg constructor is Scala-private but
    * public in bytecode; invoked reflectively (same contract `newSession()`
    * itself uses). */
  def withSessionWrappedParser(
      root: SparkSession,
      wrap: (SparkSession, ParserInterface) => ParserInterface): SparkSession = {
    val classic = root.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    val ext = new SparkSessionExtensions
    ext.injectParser((s, delegate) => wrap(s, delegate))
    val ctor = classOf[org.apache.spark.sql.classic.SparkSession].getConstructor(
      classOf[org.apache.spark.SparkContext],
      classOf[Option[_]],
      classOf[Option[_]],
      classOf[SparkSessionExtensions],
      classOf[Map[_, _]],
      classOf[Map[_, _]])
    ctor.newInstance(
      classic.sparkContext,
      Some(classic.sharedState),
      None, // fresh SessionState so the injected parser applies
      ext,
      Map.empty[String, String],
      Map.empty[String, String])
  }
}
