package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

/** Entry point behind `perfbench/run.py`. One process, one client
  * thread, `local[nproc]`; prints the run's metrics and, as its last
  * line, the JSON result the benchmark contract asks for. */
object Main {

  /** Exits explicitly: engine thread pools would otherwise hold the JVM
    * open for seconds after the result is printed. */
  def main(args: Array[String]): Unit = {
    val code =
      try { run(args); 0 }
      catch { case e: Throwable => e.printStackTrace(); 1 }
    System.out.flush()
    sys.exit(code)
  }

  private def run(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opt("workload")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toInt
    val traced = opt("trace") == "1"
    val cores = opt("cores").toInt
    val benchDir = opt("bench-dir")
    val outDir = opt("out")
    require(Set("knn_serve", "ingest_mixed", "batch_sf0.01").contains(workload),
      s"unknown workload $workload")

    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", s"$outDir/warehouse")
      .config("spark.local.dir", s"$outDir/local")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS =
      (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
    val log = (s: String) => println(s)
    log(s"perfbench env nproc=$cores heap=${Runtime.getRuntime.maxMemory >> 20}MB " +
      s"spark=${spark.version} master=local[$cores] shuffle_partitions=$cores clients=1 " +
      s"workload=$workload seed=$seed seconds=$seconds trace=${opt("trace")}")

    val tracer = new Tracer(spark)
    val out =
      try workload match {
        case "knn_serve" => KnnServe.run(spark, seed, seconds, traced, tracer)
        case "ingest_mixed" => IngestMixed.run(spark, seed, traced, tracer, log)
        case _ => Batch.run(spark, benchDir, traced, tracer, log)
      } finally spark.stop()

    val setupS = sessionS + out.setupS
    val e2e = Seq(("setup_s", setupS, "s"), ("p50_ms", out.p50Ms, "ms"),
      ("stmts_per_s", out.stmtsPerS, "1/s"))
    (e2e ++ out.extra).foreach { case (n, v, u) => log(f"perfbench metric $n%-20s $v%14.4f $u") }
    log(f"perfbench metric session_s           $sessionS%14.4f s")
    val allFinite = e2e.forall(!_._2.isNaN)
    val metrics: Seq[(String, Double, String)] =
      if (!traced) e2e
      else {
        val layers = PerLayer.compute(tracer.records.toSeq, out)
        PerLayer.byClass(tracer.records.toSeq).foreach { case (c, f) =>
          log(s"perfbench layer $c " + f.toSeq.sortBy(_._1)
            .map { case (k, v) => f"$k=$v%.3f" }.mkString(" "))
        }
        writeTrace(outDir, workload, seed, tracer)
        PerLayer.names.map(n => (n, layers.getOrElse(n, 0.0), PerLayer.unit(n)))
      }
    val body = metrics.map { case (n, v, u) =>
      val x = if (v.isNaN || v.isInfinite) 0.0 else v
      s""""$n":{"value":$x,"unit":"$u"}"""
    }.mkString(",")
    println(s"""{"correct":${out.correct && allFinite},"attempted":${out.attempted},""" +
      s""""failed":${out.failed},"metrics":{$body}}""")
  }

  private def writeTrace(outDir: String, workload: String, seed: Long, t: Tracer): Unit = {
    val lines = t.spans.map(Spans.toJson) ++ t.records.map { case (c, n, f) =>
      s"""{"class":"$c","statement":"$n",""" +
        f.toSeq.sortBy(_._1).map { case (k, v) => s""""$k":$v""" }.mkString(",") + "}"
    }
    val p = Paths.get(outDir, s"trace-$workload-seed$seed.jsonl")
    Files.createDirectories(p.getParent)
    Files.write(p, lines.mkString("", "\n", "\n").getBytes("UTF-8"))
  }
}

/** The traced run's per-layer figures: per statement class, a mean per
  * statement (`knn.*`, `insert`, `create_index`) or a sum over the set
  * (`batch.*`), plus run-wide streaming, cache and overhead figures. */
object PerLayer {
  private val planning = Seq("plan.analysis_ms", "plan.optimization_ms",
    "plan.planning_ms", "plan.nodes")
  private val knn = Seq("wall_ms", "engine.sql_ms") ++ planning ++ Seq("spark.jobs",
    "spark.tasks", "spark.task_cpu_ms", "spark.gc_ms", "spark.input_rows",
    "spark.driver_gap_ms", "scan.rows_per_result", "index.rewrite_frac", "self.stmt_ms",
    "self.job_ms")
  private val insert = Seq("wall_ms") ++ planning ++ Seq("spark.jobs", "spark.tasks",
    "spark.task_cpu_ms", "spark.gc_ms", "spark.input_rows", "spark.shuffle_write_bytes",
    "spark.driver_gap_ms", "scan.rows_per_result", "self.stmt_ms", "self.job_ms")
  private val createIndex = Seq("wall_ms", "index.build_ms", "plan.optimization_ms",
    "plan.planning_ms", "spark.jobs", "spark.tasks", "spark.task_cpu_ms", "spark.gc_ms",
    "spark.driver_gap_ms", "self.stmt_ms", "self.job_ms")
  private val batch = Seq("wall_ms") ++ planning ++ Seq("spark.jobs", "spark.tasks",
    "spark.task_run_ms", "spark.task_cpu_ms", "spark.gc_ms", "spark.input_rows",
    "spark.shuffle_write_bytes", "spark.shuffle_records", "spark.spill_bytes",
    "spark.driver_gap_ms", "scan.rows_per_result", "self.stmt_ms", "self.job_ms")

  private val perClass: Seq[(String, Seq[String])] = Seq(
    "knn.hnsw" -> (knn :+ "index.probe_ms"),
    "knn.ivfflat" -> (knn :+ "index.probe_ms"),
    "knn.filtered" -> knn,
    "insert" -> insert,
    "create_index" -> createIndex,
    "batch.short" -> batch,
    "batch.heavy" -> batch)
  private val runWide = Seq("stream.add_batch_ms", "stream.wal_commit_ms",
    "stream.batches", "cache.mb", "trace.overhead_ms", "trace.overhead_frac")

  val names: Seq[String] =
    perClass.flatMap { case (c, ms) => ms.map(m => s"$c.$m") } ++ runWide

  def unit(name: String): String =
    if (name.endsWith("_ms")) "ms"
    else if (name.endsWith("_bytes")) "bytes"
    else if (name.endsWith("_frac") || name.endsWith("rows_per_result")) "ratio"
    else if (name.endsWith(".mb")) "MB"
    else "count"

  def byClass(records: Seq[(String, String, Map[String, Double])])
      : Seq[(String, Map[String, Double])] =
    records.groupBy(_._1).toSeq.sortBy(_._1).map { case (c, rs) =>
      val keys = rs.flatMap(_._3.keys).distinct
      val agg: Seq[Double] => Double =
        if (c.startsWith("batch.")) _.sum else xs => xs.sum / xs.size
      def sum(k: String) = rs.map(_._3.getOrElse(k, 0.0)).sum
      c -> (keys.map(k => k -> agg(rs.map(_._3.getOrElse(k, 0.0)))).toMap +
        ("scan.rows_per_result" -> sum("scan.leaf_rows") / math.max(1.0, sum("result_rows"))))
    }

  def compute(records: Seq[(String, String, Map[String, Double])],
      out: Outcome): Map[String, Double] = {
    val classes = byClass(records).toMap
    val perClassFigures = for {
      (c, ms) <- perClass; m <- ms; v <- classes.get(c).flatMap(_.get(m))
    } yield s"$c.$m" -> v
    def total(k: String) = records.map(_._3.getOrElse(k, 0.0)).sum
    val overhead =
      if (out.traced.isEmpty || out.untraced.isEmpty) Map.empty[String, Double]
      else {
        val d = Stats.median(out.traced) - Stats.median(out.untraced)
        Map("trace.overhead_ms" -> d, "trace.overhead_frac" -> d / Stats.median(out.untraced))
      }
    perClassFigures.toMap ++ Map(
      "stream.add_batch_ms" -> total("stream.add_batch_ms"),
      "stream.wal_commit_ms" -> total("stream.wal_commit_ms"),
      "stream.batches" -> total("stream.batches"),
      "cache.mb" -> (0.0 +: records.map(_._3.getOrElse("cache.mb", 0.0))).max) ++ overhead
  }
}
