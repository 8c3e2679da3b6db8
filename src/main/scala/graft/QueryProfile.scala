package graft

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.LongAdder

import org.apache.spark.scheduler.{
  SparkListener, SparkListenerEvent, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ui.{
  SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}

/** Per-query physical cost capture, summed between [[reset]] calls: task
  * count, shuffle read/write, spill and output bytes, job count, and each
  * finished SQL execution with its call site and wall time. Every bench
  * timing carries its own diagnosis this way (a regression with flat
  * shuffle bytes is scheduling noise; one with 10× shuffle is a plan
  * change), and a protocol-heavy query (many small actions) breaks down
  * by call site without the UI.
  *
  * Listener events arrive asynchronously: drain the bus
  * (`GraftSessions.drainListenerBus`) before taking a [[snapshot]]. */
final class QueryProfile extends SparkListener {
  import QueryProfile._

  private val tasks, shuffleRead, shuffleWrite, spill, outBytes, jobs = new LongAdder
  private val started = new ConcurrentHashMap[Long, (String, Long)]
  private val finished = new ConcurrentLinkedQueue[Exec]

  override def onTaskEnd(te: SparkListenerTaskEnd): Unit = {
    val m = te.taskMetrics
    if (m != null) {
      shuffleRead.add(m.shuffleReadMetrics.totalBytesRead)
      shuffleWrite.add(m.shuffleWriteMetrics.bytesWritten)
      spill.add(m.memoryBytesSpilled + m.diskBytesSpilled)
      // sink-side write volume (parquet index/standing-state commits):
      // the delta-sized-writes evidence for the nightly fold queries
      outBytes.add(m.outputMetrics.bytesWritten)
      tasks.increment()
    }
  }

  override def onJobStart(js: SparkListenerJobStart): Unit = jobs.increment()

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart =>
      started.put(s.executionId, (s.description, s.time))
      ()
    case s: SparkListenerSQLExecutionEnd =>
      Option(started.remove(s.executionId)).foreach { case (site, t0) =>
        finished.add(Exec(s.executionId, site, math.max(0L, s.time - t0)))
      }
    case _ => ()
  }

  def reset(): Unit = {
    Seq(tasks, shuffleRead, shuffleWrite, spill, outBytes, jobs).foreach(_.reset())
    started.clear()
    finished.clear()
  }

  def snapshot: Snapshot = {
    import scala.jdk.CollectionConverters._
    Snapshot(tasks.sum, shuffleRead.sum, shuffleWrite.sum, spill.sum,
      outBytes.sum, jobs.sum, finished.asScala.toVector)
  }
}

object QueryProfile {

  /** One finished SQL execution: its description (the call site of the
    * action that ran it) and its wall milliseconds. */
  final case class Exec(id: Long, callSite: String, wallMs: Long)

  final case class Snapshot(
      tasks: Long,
      shuffleReadBytes: Long,
      shuffleWriteBytes: Long,
      spillBytes: Long,
      outputBytes: Long,
      jobs: Long,
      execs: Seq[Exec]) {
    def sqlExecs: Int = execs.size
  }

  /** A new profile registered on `spark`'s context. */
  def attach(spark: SparkSession): QueryProfile = {
    val p = new QueryProfile
    spark.sparkContext.addSparkListener(p)
    p
  }
}
