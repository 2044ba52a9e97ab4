package perfbench

import java.util.SplittableRandom

import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

import graft.Engine
import graft.index.VectorIndexes

/** What a workload hands back to `Main`. `p50Ms` and `stmtsPerS` are the
  * workload's two headline figures; `extra` holds its own named metrics
  * (name, value, unit); `traced`/`untraced` are statement walls from
  * the traced run, alternated so their difference is the overhead. */
final case class Outcome(setupS: Double, p50Ms: Double, stmtsPerS: Double,
    attempted: Int, failed: Int, correct: Boolean,
    extra: Seq[(String, Double, String)],
    traced: Seq[Double] = Nil, untraced: Seq[Double] = Nil)

/** The `items(id, cat, v VECTOR(128))` table behind `knn_serve` and
  * `ingest_mixed`, loaded and indexed through the SQL front end. */
final class Items(spark: SparkSession, engine: Engine, seed: Long, rows: Int,
    tracer: Tracer) {
  import Items._

  var corpus: Corpus = _
  private var method = ""

  /** One set-up: drop every cache, generate, create, load, index.
    * Returns (set-up ms, CREATE INDEX ms). */
  def setUp(traced: Boolean): (Double, Double) = {
    val t0 = System.nanoTime()
    Cleanup.all(spark)
    corpus = new Corpus(seed, Dim, Clusters, Cats)
    corpus.grow(rows)
    engine.executeSql(s"CREATE TABLE items(id INTEGER, cat INTEGER, v VECTOR($Dim))")
    val data = corpus.vecs.indices.map(i => Row(i, corpus.catOf(i), corpus.vecs(i).toSeq))
    engine.registerTable("items", spark.createDataFrame(java.util.Arrays.asList(data: _*),
      StructType(Seq(StructField("id", IntegerType), StructField("cat", IntegerType),
        StructField("v", ArrayType(DoubleType))))))
    val tb = System.nanoTime()
    Seq(IvfDdl, HnswDdl).foreach { ddl =>
      tracer.statement("create_index", ddl.split(" ")(2), traced) {
        (engine.executeSql(ddl).collect().length.toLong, 0.0)
      }
      if (traced) tracer.annotate("index.build_ms", tracer.records.last._3("wall_ms"))
    }
    method = ""
    val end = System.nanoTime()
    ((end - t0) / 1e6, (end - tb) / 1e6)
  }

  /** One KNN statement; returns (ids, wall ms). */
  def knn(cls: String, m: String, q: Array[Double], cat: Option[Int],
      traced: Boolean): (Seq[Long], Double) = {
    if (m != method) { engine.executeSql(s"set vector_index_method = $m"); method = m }
    val where = cat.map(c => s" WHERE cat = $c").getOrElse("")
    val sql = s"SELECT id FROM items$where ORDER BY v <-> ${Sql.vec(q)} LIMIT $K"
    var ids: Seq[Long] = Nil
    val wall = tracer.statement(cls, cls, traced) {
      val t0 = System.nanoTime()
      val df = engine.executeSql(sql)
      val sqlMs = (System.nanoTime() - t0) / 1e6
      ids = df.collect().toSeq.map(_.getInt(0).toLong)
      (ids.length.toLong, sqlMs)
    }
    if (traced && cat.isEmpty) { // the index probe alone, called directly
      val model = VectorIndexes.get(if (m == "hnsw") "items_hnsw" else "items_ivf").get.model
      val t0 = System.nanoTime()
      model.scanIdsVecs(spark, q.toSeq, K).collect()
      tracer.annotate("index.probe_ms", (System.nanoTime() - t0) / 1e6)
    }
    (ids, wall)
  }

  /** One `INSERT ... VALUES` of `n` fresh rows; returns (ok, wall ms). */
  def insert(n: Int, traced: Boolean): (Boolean, Range, Double) = {
    val slots = corpus.grow(n)
    val values = valuesSql(corpus, slots)
    var count = -1L
    val wall = tracer.statement("insert", "insert", traced) {
      val t0 = System.nanoTime()
      val df = engine.executeSql(s"INSERT INTO items VALUES $values")
      val sqlMs = (System.nanoTime() - t0) / 1e6
      count = df.collect().head.getLong(0)
      (1L, sqlMs)
    }
    (count == n, slots, wall)
  }
}

object Items {
  def valuesSql(c: Corpus, slots: Range): String =
    slots.map(i => s"($i, ${c.catOf(i)}, ${Sql.vec(c.vecs(i))})").mkString(", ")

  val Dim = 128
  val Clusters = 16
  val Cats = 8
  val K = 10
  val IvfDdl = "CREATE INDEX items_ivf ON items USING ivfflat (v vector_l2_ops) " +
    "WITH (lists = 32, probe_lists = 4)"
  val HnswDdl = "CREATE INDEX items_hnsw ON items USING hnsw (v vector_l2_ops) " +
    "WITH (m = 8, ef_construction = 64, ef_search = 64)"
  /** Mean recall@10 below this marks a run incorrect: the index is
    * broken, not merely approximate. */
  val RecallFloor = 0.8
  val SetUps = 3
}

object Cleanup {
  /** Drop persisted RDDs and the SQL cache, as `graft.Bench` does at
    * each query boundary. */
  def all(spark: SparkSession): Unit = {
    spark.sparkContext.getPersistentRDDs.valuesIterator.foreach(_.unpersist(blocking = true))
    spark.catalog.clearCache()
  }

  def cacheMb(spark: SparkSession): Double =
    spark.sparkContext.getRDDStorageInfo.map(_.memSize).sum / 1048576.0
}

/** Shared bookkeeping for the KNN statements of both workloads. */
final class KnnTally {
  val walls = ArrayBuffer.empty[Double]
  val recalls = ArrayBuffer.empty[Double]
  var attempted = 0
  var failed = 0
  val traced = ArrayBuffer.empty[Double]
  val untraced = ArrayBuffer.empty[Double]

  /** Runs one statement, checks it against the oracle, records it. */
  def run(items: Items, cls: String, m: String, q: Array[Double], cat: Option[Int],
      traced: Boolean, alternate: Boolean): Unit = {
    attempted += 1
    try {
      val (ids, wall) = items.knn(cls, m, q, cat, traced)
      walls += wall
      if (alternate) (if (traced) this.traced else untraced) += wall
      val truth = items.corpus.exactTopK(q, Items.K, cat)
      if (cat.isDefined) { if (ids != truth) failed += 1 } // filtered must be exact
      else recalls += Stats.recall(ids, truth)
    } catch { case NonFatal(e) =>
      failed += 1
      System.err.println(s"perfbench: $cls statement failed: $e")
    }
  }

  def meanRecall: Double = if (recalls.isEmpty) 0.0 else recalls.sum / recalls.size
}

object KnnServe {
  val Rows = 3000
  /** 40% HNSW, 40% IVFFlat, 20% filtered, in a fixed cycle so that every
    * run has the same mix. */
  val Cycle = Seq("hnsw", "ivfflat", "filtered", "hnsw", "ivfflat")

  def run(spark: SparkSession, seed: Long, seconds: Int, traced: Boolean,
      tracer: Tracer): Outcome = {
    val engine = new Engine(spark)
    val items = new Items(spark, engine, seed, Rows, tracer)
    val setups = (0 until Items.SetUps).map(i => items.setUp(traced && i == Items.SetUps - 1))
    val qrnd = new SplittableRandom(seed ^ 0x5eed) // the mix's own stream
    def next(i: Int, t: Boolean, alt: Boolean, tally: KnnTally): Unit = {
      val cls = Cycle(i % Cycle.length)
      val q = items.corpus.queryNear(qrnd.nextInt(Rows))
      if (cls == "filtered")
        tally.run(items, "knn.filtered", "hnsw", q, Some(qrnd.nextInt(Items.Cats)), t, alt)
      else tally.run(items, s"knn.$cls", cls, q, None, t, alt)
    }
    val warm = new KnnTally
    val w0 = System.nanoTime()
    Cycle.indices.foreach(i => next(i, t = false, alt = false, warm))
    val warmS = (System.nanoTime() - w0) / 1e9
    val tally = new KnnTally
    val t0 = System.nanoTime()
    var i = 0
    while ((System.nanoTime() - t0) / 1e9 < seconds) {
      next(i, traced && i % 2 == 0, traced, tally); i += 1
    }
    val loopS = (System.nanoTime() - t0) / 1e9
    val cacheMb = Cleanup.cacheMb(spark)
    val buildS = Stats.median(setups.map(_._2)) / 1e3
    val extra = Seq(
      ("knn_p50_ms", Stats.median(tally.walls.toSeq), "ms")) ++
      Stats.tail(tally.walls.toSeq, 0.9).map(v => ("knn_p90_ms", v, "ms")) ++ Seq(
      ("knn_qps", tally.walls.size / loopS, "1/s"),
      ("recall_at_10", tally.meanRecall, "ratio"),
      ("build_s", buildS, "s"),
      ("cache_mb", cacheMb, "MB"),
      ("warmup_s", warmS, "s"),
      ("statements", tally.walls.size.toDouble, "count"),
      ("fail_frac", tally.failed.toDouble / math.max(1, tally.attempted), "ratio"))
    Outcome(
      setupS = Stats.median(setups.map(_._1)) / 1e3 + warmS,
      p50Ms = Stats.median(tally.walls.toSeq),
      stmtsPerS = tally.walls.size / loopS,
      attempted = tally.attempted + warm.attempted,
      failed = tally.failed + warm.failed,
      correct = tally.failed + warm.failed == 0 && tally.meanRecall >= Items.RecallFloor,
      extra = extra, traced = tally.traced.toSeq, untraced = tally.untraced.toSeq)
  }
}

object IngestMixed {
  val Rows = 1000
  val BatchRows = 20
  /** Fixed, not time-bound: after each insert the IVFFlat-served
    * statements cost about twice what they did the round before, so a
    * time-bound loop would compare figures over different round counts. */
  val Rounds = 3

  def run(spark: SparkSession, seed: Long, traced: Boolean, tracer: Tracer,
      log: String => Unit): Outcome = {
    val engine = new Engine(spark)
    val items = new Items(spark, engine, seed, Rows, tracer)
    val setups = (0 until Items.SetUps).map(i => items.setUp(traced && i == Items.SetUps - 1))
    val qrnd = new SplittableRandom(seed ^ 0x5eed)
    val warm = new KnnTally
    val w0 = System.nanoTime()
    // warm the INSERT path on a scratch table, so the first timed insert
    // does not also pay its first-use cost; `items` sees no extra insert
    engine.executeSql(s"CREATE TABLE warmup(id INTEGER, cat INTEGER, v VECTOR(${Items.Dim}))")
    val scratch = new Corpus(seed + 1, Items.Dim, Items.Clusters, Items.Cats)
    engine.executeSql("INSERT INTO warmup VALUES " +
      Items.valuesSql(scratch, scratch.grow(BatchRows))).collect()
    Seq("hnsw", "ivfflat").foreach(m =>
      warm.run(items, s"knn.$m", m, items.corpus.queryNear(qrnd.nextInt(Rows)), None,
        traced = false, alternate = false))
    val warmS = (System.nanoTime() - w0) / 1e9
    val tally = new KnnTally
    val inserts = ArrayBuffer.empty[Double]
    var insertFails = 0
    val t0 = System.nanoTime()
    for (round <- 0 until Rounds) {
      val (ok, fresh, wall) =
        try items.insert(BatchRows, traced)
        catch { case NonFatal(e) =>
          System.err.println(s"perfbench: insert failed: $e"); (false, 0 until 0, 0.0)
        }
      if (ok) inserts += wall else insertFails += 1
      val before = tally.walls.size
      // HNSW and IVFFlat statements aimed at rows just inserted, then two
      // HNSW statements at base rows. The traced run traces the first two
      // and one of the last two, alternating by round, so that pair gives
      // the tracing overhead.
      val targets = Seq(fresh.headOption, fresh.lastOption).flatten ++
        Seq.fill(2)(qrnd.nextInt(Rows))
      targets.zip(Seq("hnsw", "ivfflat", "hnsw", "hnsw")).zipWithIndex.foreach {
        case ((slot, m), j) =>
          tally.run(items, s"knn.$m", m, items.corpus.queryNear(slot), None,
            traced && (j < 2 || (j + round) % 2 == 0), alternate = traced && j >= 2)
      }
      log(f"perfbench round $round insert_ms=$wall%.1f knn_ms=" +
        tally.walls.drop(before).map(w => f"$w%.1f").mkString(","))
    }
    val loopS = (System.nanoTime() - t0) / 1e9
    val cacheMb = Cleanup.cacheMb(spark)
    val insertP50 = if (inserts.isEmpty) Double.NaN else Stats.median(inserts.toSeq)
    val failed = tally.failed + warm.failed + insertFails
    val attempted = tally.attempted + warm.attempted + Rounds
    val extra = Seq(
      ("insert_p50_ms", insertP50, "ms"),
      ("ingest_rows_per_s", inserts.size * BatchRows / (inserts.sum / 1e3), "1/s"),
      ("insert_first_ms", inserts.headOption.getOrElse(Double.NaN), "ms"),
      ("insert_last_ms", inserts.lastOption.getOrElse(Double.NaN), "ms"),
      ("knn_p50_ms", Stats.median(tally.walls.toSeq), "ms")) ++
      Stats.tail(tally.walls.toSeq, 0.9).map(v => ("knn_p90_ms", v, "ms")) ++ Seq(
      ("recall_at_10", tally.meanRecall, "ratio"),
      ("cache_mb", cacheMb, "MB"),
      ("fail_frac", failed.toDouble / attempted, "ratio"))
    Outcome(
      setupS = Stats.median(setups.map(_._1)) / 1e3 + warmS,
      p50Ms = insertP50,
      stmtsPerS = (inserts.size + tally.walls.size) / loopS,
      attempted = attempted, failed = failed,
      correct = failed == 0 && tally.meanRecall >= Items.RecallFloor,
      extra = extra, traced = tally.traced.toSeq, untraced = tally.untraced.toSeq)
  }
}
