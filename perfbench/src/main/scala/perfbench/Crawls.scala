package perfbench

import graft.crawl.{Records, WaveRunner}
import graft.crawl.WaveRunner.CrawlConfig
import graft.model.SpanDoc
import graft.oracle.SequentialOracle
import graft.synth.SyntheticSite
import graft.synth.SyntheticSite.SiteConfig
import org.apache.spark.sql.SparkSession

import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** The two crawl workloads. Both crawl a synthetic site generated from the
  * run's seed (`SiteConfig.seed`) through the HTML render+parse fetcher; they
  * differ in which layer of the crawl engine dominates.
  */
object Crawls {
  /** crawl_bulk: a wide, shallow site drained in memory mode. The wave
    * budget never binds, so the crawl takes two waves and per-page
    * fetch+parse dominates; selection, the seen filter and the commit run
    * only twice.
    */
  def bulkSite(seed: Long): SiteConfig = SiteConfig(universities = 384,
    deptsPerU = 2, facultyPerDept = 12, errorFraction = 0.05,
    pubsPerFaculty = 12, bioWords = 250, seed = seed)
  val BulkCrawl: CrawlConfig = CrawlConfig(waveSeconds = 320.0, saltShards = 1)

  /** crawl_polite: hosts with deep profile lists, small pages and a
    * per-host budget of 8 fetches a wave, so selection, the seen filter,
    * the per-wave snapshot commit and driver scheduling dominate and the
    * fetcher is a few percent of task time. The crawl stops after
    * `PoliteWaves` waves with most of the frontier still pending.
    */
  def politeSite(seed: Long): SiteConfig = SiteConfig(universities = 32,
    deptsPerU = 1, facultyPerDept = 100, errorFraction = 0.0,
    pubsPerFaculty = 2, bioWords = 40, seed = seed)
  val PoliteWaves = 2
  /** Fetches per host per wave: `waveSeconds` over the default 1 s crawl delay. */
  val PoliteBudget = 8
  def politeCrawl(dir: String): CrawlConfig =
    CrawlConfig(waveSeconds = PoliteBudget.toDouble, maxWaves = PoliteWaves,
      snapshotDir = Some(dir))

  def bulk(spark: SparkSession, run: Run, tracer: Option[Tracer]): Map[String, Any] = {
    val site  = bulkSite(run.seed)
    val seeds = SyntheticSite.seeds(site)
    val (rec, fetcher) = recorder(spark, run, tracer, SyntheticSite.htmlFetcher(site))
    val seen, fetches, records = mutable.Map.empty[Int, Long]
    // the first warm crawl still carries JIT warm-up; two steady the median
    rec.units(minWarm = 2) { u =>
      rec.op(u, "crawl")(WaveRunner.run(spark, seeds, fetcher, Nil, BulkCrawl))
        .foreach { res =>
          rec.note("items", res.fetches)
          fetches(u) = res.fetches
          rec.op(u, "followup")(Records.facultyRecords(spark, res.docs, seeds).count())
            .foreach(records(u) = _)
          seen(u) = res.seen.count()
          res.release()
        }
    }
    // the sequential oracle is slow, so it runs once, after every timed call
    val (oracle, oracleS) = Timed(SequentialOracle.run(seeds, SyntheticSite.fetcher(site)))
    def check(kind: String, got: mutable.Map[Int, Long], want: Long, what: String): Unit =
      got.foreach { case (u, n) =>
        if (n != want) rec.fail(u, kind, s"$what $n, oracle $want")
      }
    check("crawl", seen, oracle.seen.size.toLong, "seen")
    check("crawl", fetches, oracle.crawlOrder.size.toLong, "fetches")
    check("followup", records, oracle.records.size.toLong, "records")
    rec.result ++ Map("site" -> site.toString,
      "oracle" -> Map("seen" -> oracle.seen.size, "records" -> oracle.records.size,
        "seconds" -> oracleS))
  }

  def polite(spark: SparkSession, run: Run, tracer: Option[Tracer]): Map[String, Any] = {
    val site  = politeSite(run.seed)
    val seeds = SyntheticSite.seeds(site)
    val (rec, fetcher) = recorder(spark, run, tracer, SyntheticSite.htmlFetcher(site))
    // every host is a seed with one index page linking all its profiles;
    // wave 0 fetches the index pages, each later wave `PoliteBudget` a host
    val hosts = site.universities.toLong * site.deptsPerU
    val urls = hosts * (1 + site.facultyPerDept)
    val fetchesWant = hosts * (1 + PoliteBudget * (PoliteWaves - 1))
    val storeBytes = mutable.Map.empty[Int, Long]
    rec.units(minWarm = 1) { u =>
      val dir = Paths.get(run.work, s"snapshot-$u")
      deleteTree(dir)
      val cfg = politeCrawl(dir.toString)
      rec.op(u, "crawl")(WaveRunner.run(spark, seeds, fetcher, Nil, cfg)).foreach { res =>
        rec.note("items", res.fetches)
        val live = (res.frontier.count(), res.seen.count())
        res.release()
        if (res.fetches != fetchesWant || live != ((urls, urls)))
          rec.fail(u, "crawl", s"fetches ${res.fetches}, frontier ${live._1}, " +
            s"seen ${live._2}; want $fetchesWant, $urls, $urls")
        storeBytes(u) = treeBytes(dir)
        rec.op(u, "followup") {
          val r = WaveRunner.resume(spark, seeds, fetcher, Nil, cfg)
          val counts = (r.frontier.count(), r.seen.count())
          r.release()
          counts
        }.foreach { resumed =>
          if (resumed != live)
            rec.fail(u, "followup", s"resumed frontier/seen $resumed, live $live")
        }
      }
      deleteTree(dir)
    }
    rec.result ++ Map("site" -> site.toString, "store_bytes" -> storeBytes.toMap)
  }

  /** The run's recorder and the fetcher the crawl gets: wrapped in a
    * [[FetchProbe]] only when tracing.
    */
  private def recorder(spark: SparkSession, run: Run, tracer: Option[Tracer],
      fetch: String => Option[SpanDoc]): (Recorder, String => Option[SpanDoc]) = {
    val probe = tracer.map(_ => new FetchProbe(spark.sparkContext))
    (new Recorder(run, tracer, probe), probe.fold(fetch)(_.wrap(fetch)))
  }

  private def files(dir: Path): List[Path] =
    if (!Files.exists(dir)) Nil
    else {
      val s = Files.walk(dir)
      try s.iterator.asScala.toList finally s.close()
    }

  private def treeBytes(dir: Path): Long =
    files(dir).filter(Files.isRegularFile(_)).map(Files.size).sum

  private def deleteTree(dir: Path): Unit =
    files(dir).reverse.foreach(Files.delete)
}
