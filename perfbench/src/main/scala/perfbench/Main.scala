package perfbench

import org.apache.spark.sql.SparkSession

import java.nio.file.{Files, Paths}
import java.time.Instant
import scala.collection.mutable

/** One benchmark run in a fresh JVM: `run.py` builds the classpath and
  * starts this main, then checks and reports what it writes.
  *
  * Args: `--workload <crawl_bulk|crawl_polite|query_mix> --seed <n>
  * --seconds <s> --trace <0|1> --data <dir> --work <dir> --out <file>
  * --launch-ns <ns>`. `--data` holds the query tables; `--launch-ns` is the
  * wall clock (epoch ns) at which the JVM was launched, so `setup_s` covers
  * JVM start-up too.
  */
object Main {
  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val run = Run(
      workload = opt("workload"), seed = opt("seed").toLong,
      seconds = opt("seconds").toDouble, trace = opt("trace") == "1",
      work = opt("work"), launchNs = opt("launch-ns").toLong,
      data = opt("data"))
    Files.createDirectories(Paths.get(run.work))
    val spark = session(run.work)
    val out = try {
      val tracer = if (run.trace) Some(new Tracer(spark.sparkContext)) else None
      val body = run.workload match {
        case "crawl_bulk"   => Crawls.bulk(spark, run, tracer)
        case "crawl_polite" => Crawls.polite(spark, run, tracer)
        case "query_mix"    => QueryMix.run(spark, run, tracer)
        case w => throw new IllegalArgumentException(s"unknown workload $w")
      }
      mutable.LinkedHashMap[String, Any]("workload" -> run.workload,
        "seed" -> run.seed, "trace" -> run.trace,
        "cores" -> spark.sparkContext.defaultParallelism) ++ body
    } finally spark.stop()
    Files.writeString(Paths.get(opt("out")), Json.write(out))
  }

  /** The session shape the engine is benchmarked with elsewhere: the graft
    * planner extensions, adaptive execution on, one shuffle partition per
    * core. Scratch files stay under the run's work directory.
    */
  private def session(work: String): SparkSession = {
    val cores = Runtime.getRuntime.availableProcessors
    val s = SparkSession.builder()
      .withExtensions(new graft.plans.GraftExtensions)
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.hadoop.hadoop.tmp.dir", s"$work/hadoop")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}

final case class Run(workload: String, seed: Long, seconds: Double,
    trace: Boolean, work: String, launchNs: Long, data: String) {

  /** Seconds from JVM launch to now: read at the first timed call. */
  def sinceLaunch(): Double = {
    val now = Instant.now()
    (now.getEpochSecond * 1000000000L + now.getNano - launchNs) / 1e9
  }
}

/** Wall-clock timing of one call. */
object Timed {
  def apply[A](f: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = f
    (a, (System.nanoTime() - t0) / 1e9)
  }
}
