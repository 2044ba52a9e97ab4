package graft.index

import scala.collection.concurrent.TrieMap

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{coalesce, col, lit, max}
import org.apache.spark.sql.graft.DistanceMetric

/** Vector-index catalog + index selection.
  *
  * Mirrors the reference's `Catalog::CreateVectorIndex` metadata
  * (`src/include/catalog/catalog.h:293-350`: index name, table, column,
  * method, distance fn, options) and the optimizer's index selection
  * (`src/optimizer/vector_index_scan.cpp:29-62` MatchVectorIndex):
  *   - session var `vector_index_method` ∈ ivfflat | hnsw | none | unset
  *     (reference `optimizer.cpp:26`), here the Spark conf
  *     `graft.vector_index_method`;
  *   - unset: prefer an index with the matching distance fn, else any
  *     index on the column (the reference's documented quirk, `:52-59`);
  *   - none: always brute-force.
  */
object VectorIndexes {

  sealed trait Model {
    def scan(spark: SparkSession, query: Seq[Double], k: Int): DataFrame
    /** (__knn_id, __knn_vec) — id + stored vector of the top-k; the
      * optimizer rule semi-joins on `__knn_id` only. */
    def scanIdsVecs(spark: SparkSession, query: Seq[Double], k: Int)
        : DataFrame
    /** This index over `table`'s current rows, appended ones included
      * (InsertVectorEntry, vector_index.h:21). */
    def follow(table: DataFrame, column: String): Model
  }
  /** `watermark`: the highest id the build saw. */
  final case class IvfModel(m: IvfFlatModel, idCol: String, watermark: Long)
      extends Model {
    def scan(spark: SparkSession, query: Seq[Double], k: Int): DataFrame =
      m.scan(query, k, tieBreak = Some(idCol))
    def scanIdsVecs(spark: SparkSession, query: Seq[Double], k: Int)
        : DataFrame =
      scan(spark, query, k).select(col(idCol).as("__knn_id"),
        col(m.vecCol).cast("array<double>").as("__knn_vec"))
    def follow(table: DataFrame, column: String): Model =
      copy(m = m.over(table.select(col(idCol), col(column).as(m.vecCol)),
        idCol, watermark))
  }
  final case class HnswModel(idx: HnswIndex, idCol: String) extends Model {
    def scan(spark: SparkSession, query: Seq[Double], k: Int): DataFrame =
      Hnsw.scanAsDf(spark, idx, query, k)
        .withColumnRenamed("id", idCol)
    def scanIdsVecs(spark: SparkSession, query: Seq[Double], k: Int)
        : DataFrame = {
      import spark.implicits._
      idx.scanFull(query.toArray, k).map(t => (t._1, t._2.toSeq))
        .toDF("__knn_id", "__knn_vec")
    }
    /** Inserts the ids past `idx.maxId` (not idx.size: skipped null
      * vectors make size lag behind ids) in place. The collect is bounded
      * by the rows appended since the last call, the reference's DML
      * scale; a bulk load must build via Hnsw.buildAuto instead. */
    def follow(table: DataFrame, column: String): Model = {
      table.filter(col(idCol) > idx.maxId && col(column).isNotNull)
        .select(col(idCol), col(column).cast("array<double>"))
        .collect().foreach(r =>
          idx.insert(r.getLong(0), r.getSeq[Double](1).toArray))
      this
    }
  }

  final case class IndexMeta(
      name: String, table: String, column: String, method: String,
      metric: DistanceMetric.Value, model: Model,
      idCol: String,
      /** Canonicalized leaf of the indexed table's plan — how the
        * optimizer rule recognizes the table inside arbitrary queries
        * (the reference matches SeqScan table OIDs instead,
        * vector_index_scan.cpp:44-50). */
      leaf: Option[org.apache.spark.sql.catalyst.plans.logical.LogicalPlan] =
        None)

  private val registry = TrieMap.empty[String, IndexMeta]

  def register(meta: IndexMeta): Unit = registry.put(meta.name, meta)
  def drop(name: String): Unit = registry.remove(name)
  def get(name: String): Option[IndexMeta] = registry.get(name)
  def list(): Seq[IndexMeta] = registry.values.toSeq

  private def leafOf(df: DataFrame) = {
    val leaves = df.queryExecution.analyzed.collectLeaves()
    if (leaves.length == 1) Some(leaves.head.canonicalized) else None
  }

  def createIvfFlat(name: String, table: String, df: DataFrame,
      idCol: String, vecCol: String, lists: Int, probeLists: Int,
      metric: DistanceMetric.Value = DistanceMetric.L2): IvfFlatModel = {
    val m = IvfFlat.build(df, Seq(idCol), vecCol, lists, probeLists, metric)
    val watermark = df.agg(coalesce(max(col(idCol)).cast("long"), lit(-1L)))
      .head().getLong(0)
    register(IndexMeta(name, table, vecCol, "ivfflat", metric,
      IvfModel(m, idCol, watermark), idCol, leafOf(df)))
    m
  }

  def createHnsw(name: String, table: String, df: DataFrame,
      idCol: String, vecCol: String, m: Int, efConstruction: Int,
      efSearch: Int,
      metric: DistanceMetric.Value = DistanceMetric.L2): HnswIndex = {
    val idx = Hnsw.build(df, idCol, vecCol, m, efConstruction, efSearch,
      metric)
    register(IndexMeta(name, table, vecCol, "hnsw", metric,
      HnswModel(idx, idCol), idCol, leafOf(df)))
    idx
  }

  /** Persist the registry: one `_registry` parquet of metadata rows
    * plus each index's own persisted layout under `root/<name>/`
    * (IVFFlat's bucketed parquet via `IvfFlatModel.save`; the
    * driver-side HNSW graph Java-serialized — it is a driver object by
    * design, see SURVEY §8.4; the partitioned variant persists via
    * `saveAsObjectFile` separately). The reference's catalog is
    * equally in-memory (catalog.h:293-350) — this is scale-hardening
    * beyond parity: an engine restart reopens its indexes instead of
    * rebuilding them. */
  def saveRegistry(spark: SparkSession, root: String): Unit = {
    import spark.implicits._
    val metas = list().sortBy(_.name)
    val watermarks = metas.map { m =>
      m.model match {
        case IvfModel(mm, _, w) => mm.save(s"$root/${m.name}/ivf"); w
        case HnswModel(idx, _) =>
          // Hadoop FS, not java.io: the registry root may be hdfs://
          // or s3a:// — the parquet pieces already go through the
          // FileSystem API, the blob must too (ADVICE r4)
          val p = new org.apache.hadoop.fs.Path(s"$root/${m.name}/hnsw.bin")
          val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
          val oos = new java.io.ObjectOutputStream(fs.create(p, true))
          try oos.writeObject(idx) finally oos.close()
          idx.maxId
      }
    }
    metas.zip(watermarks).map { case (m, w) => (m.name, m.table, m.column,
        m.method, m.metric.id, m.idCol, w) }
      .toDF("name", "table", "column", "method", "metric", "id_col",
        "watermark")
      .repartition(1).write.mode("overwrite").parquet(s"$root/_registry")
  }

  /** Reopen a persisted registry: every entry is registered with its
    * reloaded model (IVFFlat probes serve from the partition-pruned
    * saved layout) and `leaf = None` — callers that route the
    * optimizer rule re-derive leaves against their current table
    * plans and make the models follow them (Engine.loadIndexRegistry
    * does). */
  def loadRegistry(spark: SparkSession, root: String): Seq[IndexMeta] =
    spark.read.parquet(s"$root/_registry").collect().toSeq.map { r =>
      val name = r.getAs[String]("name")
      val method = r.getAs[String]("method")
      val idCol = r.getAs[String]("id_col")
      val model = method match {
        case "ivfflat" =>
          IvfModel(IvfFlat.load(spark, s"$root/$name/ivf"), idCol,
            r.getAs[Long]("watermark"))
        case "hnsw" =>
          val p = new org.apache.hadoop.fs.Path(s"$root/$name/hnsw.bin")
          val fs =
            p.getFileSystem(spark.sparkContext.hadoopConfiguration)
          val ois = new java.io.ObjectInputStream(fs.open(p))
          val idx = try ois.readObject().asInstanceOf[HnswIndex]
            finally ois.close()
          HnswModel(idx, idCol)
        case other => sys.error(s"unknown persisted index method $other")
      }
      val meta = IndexMeta(name, r.getAs[String]("table"),
        r.getAs[String]("column"), method,
        DistanceMetric(r.getAs[Int]("metric")), model, idCol, None)
      register(meta)
      meta
    }

  /** Index selection per MatchVectorIndex (see object doc). */
  def select(table: String, column: String,
      metric: DistanceMetric.Value, method: String): Option[IndexMeta] =
    pick(registry.values
      .filter(m => m.table == table && m.column == column).toSeq,
      metric, method)

  /** Same selection keyed by the indexed table's canonicalized plan
    * leaf — used by the optimizer rule, where only the plan is known. */
  def selectByLeaf(
      leaf: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan,
      column: String, metric: DistanceMetric.Value,
      method: String): Option[IndexMeta] =
    pick(registry.values
      .filter(m => m.leaf.contains(leaf) && m.column == column).toSeq,
      metric, method)

  private def pick(candidatesUnsorted: Seq[IndexMeta],
      metric: DistanceMetric.Value, method: String): Option[IndexMeta] = {
    val candidates = candidatesUnsorted.sortBy(_.name)
    method match {
      case "none" => None
      case "ivfflat" | "hnsw" =>
        candidates.find(m => m.method == method && m.metric == metric)
      case _ => // unset: prefer matching metric, else any (reference :52-59)
        candidates.find(_.metric == metric).orElse(candidates.headOption)
    }
  }

  /** Attach the KNN rewrite rule to a session — the one way to enable
    * it. Idempotent. */
  def enableRewrite(spark: SparkSession): Unit = {
    val rule = new org.apache.spark.sql.graft.VectorIndexScanRule(spark)
    val cur = spark.experimental.extraOptimizations
    if (!cur.exists(_.isInstanceOf[org.apache.spark.sql.graft.VectorIndexScanRule]))
      spark.experimental.extraOptimizations = cur :+ rule
  }
}
