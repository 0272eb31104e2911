package graft.perfbench

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ops.VectorOps

/** The `index_rw` session on one versioned vector table, driven through
  * the public `VectorOps` table calls.
  *
  * Set-up builds version 1 from the embeddings table (deterministic IVF
  * build, partitioned write, manifest, bloom sidecar). Every commit also
  * maintains the bloom sidecar of the version it creates, so point reads
  * can prune files at any version. The plan names every version and id
  * explicitly; `plan.IndexModel` in `perfbench/plan.py` holds the state each
  * read must see.
  */
final class IndexSession(spark: SparkSession, plan: Main.Plan, out: Path)
    extends OpRunner {
  import spark.implicits._

  private val path = out.resolve("table").toString
  private val id = "vec_id"
  private val vec = "embedding"
  private val nProbe = plan("nprobe").toInt
  private var centroids: Array[Array[Double]] = Array.empty
  private var batches: Map[Long, DataFrame] = Map.empty
  private val tableStats = scala.collection.mutable.ArrayBuffer[Seq[(String, Any)]]()

  override def setUp(): Unit = {
    val base = spark.read.parquet(s"${plan("index_data")}/embeddings.parquet")
      .select(col(id), col(vec))
    val index = VectorOps.ivfIndexDeterministic(base, id, vec,
      nCentroids = plan("cells").toInt, iters = plan("lloyd_iters").toInt)
    centroids = index.centroids
    VectorOps.ivfWrite(index, path)
    VectorOps.writeManifest(spark, path, 1, VectorOps.listIndexFiles(spark, path),
      Map("op" -> "append"))
    VectorOps.writeBloomFilter(spark, path, 1, id)
    // write batches are inputs, not work: held as local relations so an
    // op never rereads them from disk
    val all = spark.read.parquet(plan("batches"))
    val schema = all.select(col(id), col(vec)).schema
    batches = all.collect().groupBy(_.getAs[Long]("batch")).map { case (b, rows) =>
      b -> spark.createDataFrame(
        rows.map(r => org.apache.spark.sql.Row(r.getAs[Long](id), r.getAs[Seq[Float]](vec)))
          .toSeq.asJava, schema)
    }
  }

  private def timed[A](span: SpanSink, name: String)(body: => A): A = {
    val t0 = Gauges.nowMs
    try body finally span("table", s"table.$name", t0, Gauges.nowMs)
  }

  private def readRows(df: DataFrame): Seq[(Long, Seq[Float])] =
    df.select(col(id), col(vec)).collect().toSeq
      .map(r => (r.getLong(0), r.getSeq[Float](1)))

  private def readResult(rows: Seq[(Long, Seq[Float])]): Seq[(String, Any)] =
    Seq("rows" -> rows.length, "digest" -> Digest.vectors(rows))

  private def bloom(span: SpanSink, version: Int): Unit =
    timed(span, "bloom")(VectorOps.writeBloomFilterIncremental(spark, path, version, id))

  override def run(op: Main.Op, span: SpanSink): OpResult = op.kind match {
    case "append" =>
      val b = op.args.head.toLong
      val (v, skipped, _) = timed(span, "append")(
        VectorOps.ivfAppendBatch(spark, batches(b), centroids, path, id, vec, b))
      bloom(span, v)
      OpResult(Seq("version" -> v, "skipped" -> skipped))
    case "delete" =>
      val b = op.args.head.toLong
      val ids = op.args(1).split(",").map(_.toLong).toSeq.toDF("vid")
      val (v, skipped) = timed(span, "delete")(
        VectorOps.commitDeletesBatch(spark, path, b, ids))
      bloom(span, v)
      OpResult(Seq("version" -> v, "skipped" -> skipped))
    case "upsert" =>
      val b = op.args.head.toLong
      val (v, skipped, replaced) = timed(span, "upsert")(
        VectorOps.ivfUpsertBatch(spark, batches(b), centroids, path, id, vec, b))
      bloom(span, v)
      OpResult(Seq("version" -> v, "skipped" -> skipped, "replaced" -> replaced))
    case "compact" =>
      val (head, v) = timed(span, "compact") {
        val head = VectorOps.latestVersion(spark, path).get
        VectorOps.ivfCompactVersioned(spark, path, head, head + 1)
        (head, head + 1)
      }
      bloom(span, v)
      OpResult(Seq("version" -> v, "from" -> head))
    case "vacuum" =>
      val keep = op.args.head.split(",").map(_.toInt).toSeq
      val (deleted, kept) = timed(span, "vacuum")(VectorOps.ivfVacuum(spark, path, keep))
      OpResult(Seq("deleted" -> deleted, "kept" -> kept))
    case "read_latest" =>
      val rows = timed(span, "read_latest")(readRows(VectorOps.readIndexLatest(spark, path, id)))
      OpResult(readResult(rows), () => Seq("files" -> filesOf(VectorOps.latestVersion(spark, path).get)))
    case "read_as_of" =>
      val v = op.args.head.toInt
      val rows = timed(span, "read_as_of")(
        readRows(VectorOps.readIndexVersionVisible(spark, path, v, id)))
      OpResult(readResult(rows), () => Seq("files" -> filesOf(v)))
    case "point" | "point_as_of" =>
      val (v, key) = (op.args.head.toInt, op.args(1).toLong)
      val (rows, kept, total) = timed(span, op.kind) {
        val (df, kept, total) = VectorOps.readIndexVersionPoint(spark, path, v, id, key)
        (readRows(df), kept.length, total)
      }
      OpResult(readResult(rows) ++ Seq("files" -> kept, "files_total" -> total))
    case "topk" =>
      val q = op.args.head.split(",").map(_.toFloat).toSeq
      val hits = timed(span, "topk") {
        val probes = VectorOps.nearestCentroids(centroids, q, nProbe)
        VectorOps.readIndexLatest(spark, path, id)
          .filter(col("centroid").isin(probes: _*))
          .select(col(id), round(VectorOps.cosine(col(vec), typedLit(q)), 4).as("score"))
          .orderBy(col("score").desc, col(id).asc)
          .limit(10).collect().toSeq
          .map(r => (r.getLong(0), r.getDouble(1)))
      }
      OpResult(Seq("hits" -> hits))
    case other => throw new IllegalArgumentException(s"unknown index op $other")
  }

  private def filesOf(v: Int): Int = VectorOps.readManifest(spark, path, v).length

  /** Disk footprint of the table at the end of each group. */
  override def afterGroup(group: Int): Unit = {
    val root = java.nio.file.Paths.get(path)
    val files = Files.walk(root)
    val sizes = try files.iterator().asScala.filter(Files.isRegularFile(_))
      .map(Files.size).toSeq finally files.close()
    val versions = VectorOps.listVersions(spark, path)
    val head = versions.last
    val live = VectorOps.readManifest(spark, path, head)
      .map(f => Files.size(root.resolve(f))).sum
    val retained = versions.count(v =>
      VectorOps.readManifest(spark, path, v).forall(f => Files.exists(root.resolve(f))))
    tableStats += Seq("group" -> group, "bytes_on_disk" -> sizes.sum,
      "files_on_disk" -> sizes.length, "live_bytes" -> live,
      "versions_retained" -> retained, "head" -> head)
  }

  override def summary: Seq[(String, Any)] =
    Seq("table" -> tableStats.map(s => RawJson(Json.obj(s))).toSeq)
}

/** A value already rendered as JSON. */
final case class RawJson(json: String)
