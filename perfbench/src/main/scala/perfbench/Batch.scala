package perfbench

import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

import graft.{SparkEntry, Tables}

/** One pass over fixed lists of `SparkEntry.queries` on the committed
  * sf0.01 tables, in a fixed order: the seed does not change these
  * inputs, which are the project's sf0.01 test tables, whose results
  * were checked against DuckDB. Every query starts cold from parquet: persisted RDDs
  * and the SQL cache are dropped at each boundary. The full result is
  * collected and its order-insensitive hash compared with the value
  * stored in `expected/batch_sf0.01.tsv`. */
object Batch {
  /** Dominated by the fixed cost of each Spark job. */
  val ShortSet = Seq("q01_scan_filter_project", "q04_agg_group", "q08_join_inner",
    "q11_join3_agg", "q12_window_rank", "q15_topn_per_group", "q23_agg_count_distinct",
    "q25_sessionize", "q30_knn_l2", "q33_ivfflat_exact", "q44_dedup_exact",
    "q55_hnsw_knn_join", "q61_leaderboard_q2", "q82_hll_sketch", "q111_funnel",
    "q152_json_extract")
  /** Dominated by shuffle, iteration, materialization and kernels. */
  val HeavySet = Seq("q56_jaccard_ppjoin", "q110_pagerank",
    "q122_stream_sessionize_gate", "q125_triangle_count")
  val OverheadProbe = "q01_scan_filter_project"
  val OverheadPairs = 8

  def run(spark: SparkSession, benchDir: String, traced: Boolean,
      tracer: Tracer, log: String => Unit): Outcome = {
    val dataDir = s"$benchDir/data/sf0.01"
    val expected = scala.io.Source.fromFile(s"$benchDir/expected/batch_sf0.01.tsv")
      .getLines().filterNot(_.startsWith("#")).map(_.split("\t")).map(a => a(0) -> a(1)).toMap
    // set-up opens every table: resolves its path and reads its schema
    val setups = (0 until Items.SetUps).map { _ =>
      val t0 = System.nanoTime()
      Tables.all.foreach(t => Tables.load(spark, dataDir, t).schema)
      (System.nanoTime() - t0) / 1e6
    }
    var failed = 0
    def one(cls: String, q: String, t: Boolean): Double = {
      Cleanup.all(spark)
      var result: (Seq[String], Array[org.apache.spark.sql.Row]) = (Nil, Array.empty)
      val wall = tracer.statement(cls, q, t) {
        val df = SparkEntry.queries(q)(spark, dataDir)
        result = (df.columns.toSeq, df.collect())
        (result._2.length.toLong, 0.0)
      }
      val got = ResultHash.of(result._1, result._2.map(_.toSeq))
      if (!expected.get(q).contains(got)) {
        failed += 1
        log(s"perfbench: $q result $got, expected ${expected.getOrElse(q, "none")}")
      }
      wall
    }
    def pass(cls: String, set: Seq[String]): Seq[(String, Double)] =
      set.map { q =>
        q -> (try one(cls, q, traced)
          catch { case NonFatal(e) =>
            failed += 1; log(s"perfbench: $q failed: $e"); Double.NaN
          })
      }
    val t0 = System.nanoTime()
    val short = pass("batch.short", ShortSet)
    val heavy = pass("batch.heavy", HeavySet)
    val passS = (System.nanoTime() - t0) / 1e9
    val walls = (short ++ heavy).map(_._2).filterNot(_.isNaN)
    (short ++ heavy).foreach { case (q, w) => log(f"perfbench query $q%-30s $w%10.1f ms") }
    val (tr, un) = if (!traced) (Nil, Nil) else {
      // warm, alternating: the same query with and without listeners
      val pairs = (0 until OverheadPairs).map(_ =>
        (one("overhead", OverheadProbe, t = true), one("overhead", OverheadProbe, t = false)))
      tracer.records.filterInPlace(_._1 != "overhead")
      (pairs.map(_._1), pairs.map(_._2))
    }
    val attempted = ShortSet.size + HeavySet.size + tr.size + un.size
    val extra = Seq(
      ("batch_short_s", short.map(_._2).sum / 1e3, "s"),
      ("batch_heavy_s", heavy.map(_._2).sum / 1e3, "s"),
      ("fail_frac", failed.toDouble / attempted, "ratio"))
    Outcome(
      setupS = Stats.median(setups) / 1e3,
      p50Ms = Stats.median(walls),
      stmtsPerS = walls.size / passS,
      attempted = attempted, failed = failed, correct = failed == 0,
      extra = extra, traced = tr, untraced = un)
  }
}
