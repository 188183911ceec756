package perfbench

import graft.SparkEntry
import org.apache.spark.sql.SparkSession

import java.nio.file.{Files, Paths}
import scala.util.Random

/** query_mix: one client in a closed loop over the fixed analytics tables.
  *
  * Every unit is one pass: the analytic queries, then the serving queries
  * ([[ServingReps]] times in a warm pass), each as its own operation, in an
  * order the seed fixes. Unit 0, the cold
  * pass in a fresh session, writes each result as parquet, with the DuckDB
  * oracle SQL beside it, for `run.py` to compare after the run; later passes
  * write to the noop sink, which still executes every part of the plan.
  * Cached blocks are released between queries.
  */
object QueryMix {
  /** A subset of the `graft.Bench` headline queries covering every module. */
  val Analytic: Seq[String] = Seq(
    "q_flagship_agg", "q_topk_revenue", "q_window_rank", "q_semi_anti",
    "q_tfidf_cosine", "q_corpus_prep", "q_minhash_lsh", "q_dup_clusters_lsh",
    "q_cosine_topk", "q_redact_pii", "q_pack_sequences", "q_kmeans_clusters")

  /** Point reads a serving front end sends. */
  val Serving: Seq[String] = Seq("q_search_filter", "q_point_lookup", "q_interest_overlap")

  /** Each warm pass repeats the serving queries, which take a tenth of a
    * second each, so their median is steady.
    */
  val ServingReps = 3

  def run(spark: SparkSession, run: Run, tracer: Option[Tracer]): Map[String, Any] = {
    val data = run.data
    val rnd = new Random(run.seed)
    val analytic = rnd.shuffle(Analytic)
    val serving  = rnd.shuffle(Serving)
    val rec = new Recorder(run, tracer, None)
    val out = Paths.get(run.work, "query-out")

    def query(u: Int, kind: String, name: String): Unit = {
      rec.op(u, kind, name) {
        val w = SparkEntry.queries(name)(spark, data).write.mode("overwrite")
        if (u == 0) w.parquet(out.resolve(name).toString) else w.format("noop").save()
      }
      spark.catalog.clearCache()
    }
    rec.units(minWarm = 1) { u =>
      analytic.foreach(query(u, "analytic", _))
      for (_ <- 1 to (if (u == 0) 1 else ServingReps); q <- serving)
        query(u, "serving", q)
    }

    val oracle = SparkEntry.oracleSql
    val sql = (analytic ++ serving).filter(oracle.contains).map(n => n -> oracle(n)).toMap
    Files.writeString(out.resolve("oracle_sql.json"), Json.write(sql))
    rec.result ++ Map("data" -> data, "check_dir" -> out.toString,
      "queries" -> (analytic ++ serving))
  }
}
