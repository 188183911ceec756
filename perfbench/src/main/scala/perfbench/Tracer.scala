package perfbench

import org.apache.spark.{PerfbenchBus, SparkContext}
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

import scala.collection.mutable

/** Scheduler and SQL-execution listener for the traced run.
  *
  * Every job is attributed to the call site of the SQL execution that
  * triggered it (`File.action`, e.g. `WaveRunner.count`), taken from the
  * execution's short call-site form on the thread that started it. Stage
  * names cannot be used for this: jobs that broadcast exchanges and adaptive
  * re-planning start on pool threads carry a stage name like
  * `run at CompletableFuture.java`, but they inherit the execution id of the
  * action that needs them. Jobs outside any SQL execution fall back to their
  * result stage's call site.
  *
  * Counters only grow; callers read them before and after a timed call,
  * after [[drain]], and keep the difference.
  */
final class Tracer(sc: SparkContext) extends SparkListener {
  import Tracer._

  private val siteOfExec  = mutable.Map.empty[Long, String]
  private val siteOfStage = mutable.Map.empty[Int, String]
  private val perSite = mutable.LinkedHashMap.empty[String, Array[Long]]
  private val total   = new Array[Long](Totals.size)
  private val fetchStarts = mutable.ArrayBuffer.empty[Long]

  sc.addSparkListener(this)

  /** Waits until the listener has seen every event posted so far. */
  def drain(): Unit = PerfbenchBus.drain(sc)

  /** Counter totals since the tracer was installed, by [[Totals]] name. */
  def totals: Map[String, Long] = synchronized { Totals.zip(total).toMap }

  /** (jobs, task ms, shuffle bytes written) per call site. */
  def sites: Map[String, (Long, Long, Long)] = synchronized {
    perSite.map { case (k, a) => k -> ((a(0), a(1), a(2))) }.toMap
  }

  /** Start times (ms) of the select+fetch executions since the last call. */
  def takeFetchStarts(): Seq[Long] = synchronized {
    val r = fetchStarts.toList; fetchStarts.clear(); r
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart => synchronized {
      val own = siteOf(s.description)
      val site = s.rootExecutionId.filter(_ != s.executionId)
        .flatMap(siteOfExec.get).getOrElse(own)
      siteOfExec(s.executionId) = site
      if (site == SelectFetchSite && own == site) fetchStarts += s.time
    }
    case _ =>
  }

  override def onJobStart(j: SparkListenerJobStart): Unit = synchronized {
    val exec = Option(j.properties)
      .flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      .flatMap(id => siteOfExec.get(id.toLong))
    val site = exec.getOrElse(
      siteOf(j.stageInfos.maxByOption(_.stageId).map(_.name).getOrElse("")))
    j.stageIds.foreach(id => siteOfStage.getOrElseUpdate(id, site))
    counters(site)(0) += 1; total(0) += 1
  }

  override def onStageCompleted(s: SparkListenerStageCompleted): Unit = synchronized {
    if (s.stageInfo.numTasks > 0) total(1) += 1
  }

  override def onTaskEnd(t: SparkListenerTaskEnd): Unit = synchronized {
    val m = t.taskMetrics
    if (m != null) {
      val shuffle = m.shuffleWriteMetrics.bytesWritten
      val c = counters(siteOfStage.getOrElse(t.stageId, "other"))
      c(1) += m.executorRunTime; c(2) += shuffle
      total(2) += 1
      total(3) += m.executorRunTime
      total(4) += m.executorCpuTime / 1000000L
      total(5) += m.jvmGCTime
      total(6) += shuffle
      total(7) += m.diskBytesSpilled
    }
  }

  private def counters(site: String): Array[Long] =
    perSite.getOrElseUpdate(site, new Array[Long](3))
}

object Tracer {
  /** Global counters, in the order [[Tracer.totals]] accumulates them. */
  val Totals: Seq[String] = Seq("jobs", "stages", "tasks", "task_ms", "cpu_ms",
    "gc_ms", "shuffle_write_bytes", "spill_bytes")

  /** The one action per wave that selects the batch and runs the fetcher. */
  val SelectFetchSite = "WaveRunner.count"

  private val CallSite = """^(\S+) at ([A-Za-z0-9_$]+)\.(?:scala|java):\d+""".r

  /** `count at WaveRunner.scala:555` → `WaveRunner.count`: file and action,
    * never the line, so a site keeps its name when code moves.
    */
  def siteOf(shortForm: String): String = shortForm match {
    case CallSite(action, file) => s"$file.$action"
    case _ => "other"
  }
}
