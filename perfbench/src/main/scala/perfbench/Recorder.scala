package perfbench

import graft.model.SpanDoc
import org.apache.spark.SparkContext
import org.apache.spark.metrics.source.CodegenMetrics

import scala.collection.mutable

/** Wraps the crawl's fetcher and counts, across executor tasks, how often it
  * was called, how long it ran and how many fetches returned a page.
  */
final class FetchProbe(sc: SparkContext) {
  private val calls  = sc.longAccumulator("perfbench.fetch.calls")
  private val busyNs = sc.longAccumulator("perfbench.fetch.busy_ns")
  private val ok     = sc.longAccumulator("perfbench.fetch.ok")

  def wrap(fetch: String => Option[SpanDoc]): String => Option[SpanDoc] = {
    val (c, b, o) = (calls, busyNs, ok)
    (url: String) => {
      val t0  = System.nanoTime()
      val doc = fetch(url)
      b.add(System.nanoTime() - t0)
      c.add(1)
      if (doc.isDefined) o.add(1)
      doc
    }
  }

  def counts: Map[String, Long] =
    Map("calls" -> calls.sum, "busy_ns" -> busyNs.sum, "ok" -> ok.sum)
}

/** Records every timed operation of a run: its wall time, whether it threw
  * or later failed an output check, and, in a traced run, the counters it
  * moved. A failed operation is kept in the record but reported apart, never
  * as a latency.
  */
final class Recorder(run: Run, tracer: Option[Tracer], probe: Option[FetchProbe]) {
  private val ops = mutable.ArrayBuffer.empty[mutable.LinkedHashMap[String, Any]]
  private var setupS = Option.empty[Double]

  /** Times `f` as operation `kind` (`name` distinguishes queries) of unit
    * `unit`; unit 0 is the first one in the JVM. Returns None if it threw.
    */
  def op[A](unit: Int, kind: String, name: String = "")(f: => A): Option[A] = {
    if (setupS.isEmpty) setupS = Some(run.sinceLaunch())
    val before = counters()
    val (res, secs) = Timed(try Right(f) catch { case e: Throwable => Left(e) })
    val rec = mutable.LinkedHashMap[String, Any]("unit" -> unit, "kind" -> kind,
      "name" -> name, "seconds" -> secs, "ok" -> res.isRight,
      "error" -> res.left.toOption.map(_.toString))
    if (tracer.isDefined) {
      val after = counters()
      rec("trace") = delta(before, after) ++ Map("fetch_starts_ms" ->
        tracer.get.takeFetchStarts())
    }
    ops += rec
    res.toOption
  }

  /** Adds `key` to the latest operation's record. */
  def note(key: String, value: Any): Unit = ops.last(key) = value

  /** Marks the latest operation of `kind` (and `name`) in `unit` failed. */
  def fail(unit: Int, kind: String, why: String, name: String = ""): Unit =
    ops.findLast(o => o("unit") == unit && o("kind") == kind && o("name") == name)
      .foreach { o => o("ok") = false; o("error") = Some(why) }

  def result: Map[String, Any] =
    Map("setup_s" -> setupS.getOrElse(Double.NaN), "ops" -> ops.toList)

  /** Runs unit 0, the first in the JVM, then warm units until
    * `run.seconds` have passed since unit 1 began and at least `minWarm`
    * of them have run.
    */
  def units(minWarm: Int)(body: Int => Unit): Unit = {
    body(0)
    val t0 = System.nanoTime()
    var u = 1
    while (u <= minWarm || (System.nanoTime() - t0) / 1e9 < run.seconds) {
      body(u); u += 1
    }
  }

  private type Snap = (Map[String, Long], Map[String, (Long, Long, Long)], Map[String, Long], Long)

  private def counters(): Snap = tracer match {
    case None => (Map.empty, Map.empty, Map.empty, 0L)
    case Some(t) =>
      t.drain()
      (t.totals, t.sites, probe.map(_.counts).getOrElse(Map.empty),
        CodegenMetrics.METRIC_COMPILATION_TIME.getCount)
  }

  private def delta(a: Snap, b: Snap): Map[String, Any] = {
    val sites = b._2.flatMap { case (k, (j, ms, sh)) =>
      val (j0, ms0, sh0) = a._2.getOrElse(k, (0L, 0L, 0L))
      if (j == j0 && ms == ms0 && sh == sh0) None
      else Some(k -> Map("jobs" -> (j - j0), "task_ms" -> (ms - ms0),
        "shuffle_bytes" -> (sh - sh0)))
    }
    Map("spark" -> b._1.map { case (k, v) => k -> (v - a._1.getOrElse(k, 0L)) },
      "sites" -> sites,
      "fetch" -> b._3.map { case (k, v) => k -> (v - a._3.getOrElse(k, 0L)) },
      "codegen_compiles" -> (b._4 - a._4))
  }
}
