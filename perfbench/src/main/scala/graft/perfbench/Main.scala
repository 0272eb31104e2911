package graft.perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.{Executors, TimeUnit, TimeoutException}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Row, SparkSession}

/** One benchmark run inside one JVM: reads the op plan written by
  * `perfbench/run.py`, sets up, runs the groups up to 0 as the untimed warm-up, then
  * times every other group of the plan (query passes or index cycles), one
  * op at a time from one client thread.
  *
  * It writes what it saw and nothing it concluded: `ops.jsonl` (one record
  * per op), `spans.jsonl` (traced runs), `summary.json`, the oracle SQL of
  * the query workloads, and for a query workload its warm-up results, so
  * `run.py` can check every output and compute every metric.
  *
  * Usage: Main <plan.tsv> <out dir>
  */
object Main {

  final case class Op(group: Int, kind: String, args: Vector[String])

  final case class Plan(header: Map[String, String], ops: Vector[Op]) {
    def apply(k: String): String = header(k)
  }

  def readPlan(p: Path): Plan = {
    val lines = Files.readAllLines(p).asScala.map(_.split("\t", -1).toVector)
    val ops = lines.collect { case "op" +: g +: kind +: rest => Op(g.toInt, kind, rest) }
    val header = lines.collect { case Vector(k, v) if k != "op" => k -> v }.toMap
    Plan(header, ops.toVector)
  }

  def main(args: Array[String]): Unit = {
    val plan = readPlan(Paths.get(args(0)))
    val out = Paths.get(args(1))
    Files.createDirectories(out)
    val traceRun = plan("trace") == "1"
    val workload = plan("workload")
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime

    val spark = SparkSession.builder()
      .master(plan("master"))
      .withExtensions(new graft.expr.GraftExtensions())
      .config("spark.sql.shuffle.partitions", plan("cpus"))
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.codegen.maxFields", "256")
      .config("spark.sql.files.maxPartitionBytes", "1m")
      .config("spark.sql.files.openCostInBytes", "64k")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", plan("local_dir"))
      .config("spark.hadoop.fs.file.impl", classOf[CountingLocalFileSystem].getName)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionMs = System.currentTimeMillis() - jvmStartMs

    val probes = new Probes(spark.sparkContext)
    probes.install()
    val client = Executors.newSingleThreadExecutor { (r: Runnable) =>
      val t = new Thread(r, "perfbench-client"); t.setDaemon(true); t
    }
    val timeoutMs = plan("timeout_ms").toLong
    val records = new StringBuilder
    val summary = scala.collection.mutable.LinkedHashMap[String, Any](
      "workload" -> workload, "trace" -> traceRun, "master" -> plan("master"),
      "data" -> plan("data"), "seed" -> plan("seed"),
      "session_s" -> sessionMs / 1000.0)

    val runner: OpRunner = workload match {
      case "index_rw" => new IndexSession(spark, plan, out)
      case _ => new QueryRunner(spark, plan("data"))
    }
    val t0 = System.currentTimeMillis()
    runner.setUp()
    summary("stage_s") = (System.currentTimeMillis() - t0) / 1000.0

    var opIndex = 0
    var aborted = false
    /** Run one op on the client thread under the per-op timeout. A timed
      * out op has its job group cancelled and counts as failed; nothing is
      * retried. */
    def runOp(op: Op, window: String): Unit = {
      val traced = window == "traced"
      val i = opIndex; opIndex += 1
      val (gcN0, gcMs0) = Gauges.gc
      val cg0 = Gauges.codegenNs; val cgN0 = Gauges.codegenCount
      val miss0 = Gauges.stagingMisses
      val fs0 = Gauges.fs
      probes.begin(i)
      val spans = new java.util.concurrent.ConcurrentLinkedQueue[Span]()
      val startMs = Gauges.nowMs
      val startNs = System.nanoTime()
      val future = client.submit { () =>
        spark.sparkContext.setJobGroup(probes.groupOf(i), s"${op.kind} ${op.args.headOption.getOrElse("")}".take(100),
          interruptOnCancel = true)
        try runner.run(op, (layer, name, a, b) => spans.add(Span(i, layer, name, a, b)): Unit)
        finally spark.sparkContext.clearJobGroup()
      }
      val (result, error) =
        try (future.get(timeoutMs, TimeUnit.MILLISECONDS), "")
        catch {
          case _: TimeoutException =>
            spark.sparkContext.cancelJobGroup(probes.groupOf(i))
            future.cancel(true)
            try future.get(30, TimeUnit.SECONDS)
            catch { case _: Throwable => aborted = !future.isDone }
            (OpResult.empty, s"timeout after ${timeoutMs} ms")
          case e: java.util.concurrent.ExecutionException =>
            val c = Option(e.getCause).getOrElse(e)
            (OpResult.empty, s"${c.getClass.getName}: ${Option(c.getMessage).getOrElse("")}".take(500))
        }
      val ms = (System.nanoTime() - startNs) / 1e6
      probes.end()
      val (gcN1, gcMs1) = Gauges.gc
      val fs1 = Gauges.fs
      val c = probes.countersOf(i)
      val rec = scala.collection.mutable.LinkedHashMap[String, Any](
        "i" -> i, "group" -> op.group, "kind" -> op.kind,
        "name" -> (if (op.kind == "query") op.args.head else op.kind),
        "window" -> window, "ms" -> ms, "ok" -> error.isEmpty, "error" -> error,
        "cpu_ms" -> c.cpuNs / 1e6, "failed_tasks" -> c.failedTasks,
        "staging_misses" -> (Gauges.stagingMisses - miss0),
        "gc_ms" -> (gcMs1 - gcMs0), "gc_count" -> (gcN1 - gcN0),
        "compile_ms" -> (Gauges.codegenNs - cg0) / 1e6,
        "compiles" -> (Gauges.codegenCount - cgN0))
      fs1.foreach { case (k, v) => rec(s"fs_$k") = v - fs0.getOrElse(k, 0L) }
      rec ++= result.fields ++ result.post()
      if (traced) {
        rec ++= Seq("jobs" -> c.jobs, "stages" -> c.stages, "tasks" -> c.tasks,
          "deserialize_ms" -> c.deserializeMs, "task_run_ms" -> c.runMs,
          "task_queue_ms" -> c.queueMs, "input_bytes" -> c.inputBytes,
          "input_records" -> c.inputRecords,
          "shuffle_write_bytes" -> c.shuffleWriteBytes,
          "shuffle_read_bytes" -> c.shuffleReadBytes,
          "spill_bytes" -> c.spillBytes, "result_bytes" -> c.resultBytes,
          "query_executions" -> c.queryExecutions,
          "analysis_ms" -> c.analysisMs, "optimization_ms" -> c.optimizationMs,
          "planning_ms" -> c.planningMs, "graft_rules_ms" -> c.graftRulesMs,
          "persisted_mb" -> Gauges.persistedMb(spark.sparkContext),
          "code_cache_mb" -> Gauges.codeCacheMb)
        probes.span(Span(i, "op", "op", startMs, startMs + ms))
        spans.asScala.foreach(probes.span)
      }
      records.append(Json.obj(rec.toSeq)).append('\n')
    }

    val groups = plan.ops.groupBy(_.group).toSeq.sortBy(_._1)
    // groups up to 0 are the warm-up: they fill the caches and stage fixtures
    val (warmup, timed) = groups.partition(_._1 <= 0)
    warmup.foreach { case (g, ops) => ops.foreach(runOp(_, "warmup")); runner.afterGroup(g) }
    val setupDoneMs = System.currentTimeMillis()
    summary("setup_s") = (setupDoneMs - jvmStartMs) / 1000.0
    summary("warmup_s") = (setupDoneMs - t0) / 1000.0 - summary("stage_s").asInstanceOf[Double]

    // Every remaining group of the plan is timed; a traced run's plan names
    // its traced groups, interleaved with the untraced ones. The window is
    // the untraced groups' op time; the table walk after a group is not in it.
    val tracedGroups = plan("traced_groups").split(",").filter(_.nonEmpty).map(_.toInt).toSet
    var windowMs = 0.0
    var tracedMs = 0.0
    var groupsRun = 0
    timed.foreach { case (g, ops) =>
      if (!aborted) {
        val traced = tracedGroups(g)
        if (traced) probes.enableTracing(spark)
        val g0 = System.nanoTime()
        ops.foreach(op => if (!aborted) runOp(op, if (traced) "traced" else "plain"))
        val ms = (System.nanoTime() - g0) / 1e6
        if (traced) { probes.disableTracing(spark); tracedMs += ms }
        else { windowMs += ms; groupsRun += 1 }
        runner.afterGroup(g)
      }
    }
    // the session's retained state only grows, so the live heap after the
    // window is the window's peak
    summary("live_heap_mb") = Gauges.liveHeapMb()
    if (traceRun) summary("traced_window_s") = tracedMs / 1000.0
    summary ++= Seq("window_s" -> windowMs / 1000.0, "groups" -> groupsRun,
      "aborted" -> aborted,
      "code_cache_mb" -> Gauges.codeCacheMb,
      "nproc" -> Runtime.getRuntime.availableProcessors())
    summary ++= runner.summary
    runner.dumpResults(out)
    // oracle SQL of every query workload, so DuckDB's answers can be
    // computed once per data set, whichever workload runs first
    val oracle = graft.SparkEntry.oracleSql
    Files.write(out.resolve("oracle_sql.json"), Json.obj(plan("oracle_queries").split(",").toSeq
      .filter(oracle.contains).map(n => n -> oracle(n))).getBytes(StandardCharsets.UTF_8))

    Files.write(out.resolve("ops.jsonl"), records.toString.getBytes(StandardCharsets.UTF_8))
    if (traceRun)
      Files.write(out.resolve("spans.jsonl"), probes.allSpans.map(s => Json.obj(Seq(
        "op" -> s.op, "layer" -> s.layer, "name" -> s.name,
        "start" -> s.startMs, "end" -> s.endMs))).mkString("\n")
        .getBytes(StandardCharsets.UTF_8))
    Files.write(out.resolve("summary.json"),
      Json.obj(summary.toSeq).getBytes(StandardCharsets.UTF_8))
    client.shutdownNow()
    spark.stop()
  }
}

/** What an op returns for checking, as JSON-ready fields; `post` adds
  * fields that cost I/O of their own and so are read after the op's clock
  * and counters have stopped. */
final case class OpResult(fields: Seq[(String, Any)],
                          post: () => Seq[(String, Any)] = () => Nil)
object OpResult { val empty: OpResult = OpResult(Nil) }

/** Executes one workload's ops. `span` records a layer interval inside the
  * running op (epoch ms). */
trait OpRunner {
  type SpanSink = (String, String, Double, Double) => Unit
  def setUp(): Unit = ()
  def run(op: Main.Op, span: SpanSink): OpResult
  def afterGroup(group: Int): Unit = ()
  def summary: Seq[(String, Any)] = Nil
  def dumpResults(out: Path): Unit = ()
}

/** Registry queries through the public `SparkEntry.queries` map: each op
  * builds the DataFrame and collects it. The warm-up results are kept and
  * dumped as parquet with their oracle SQL for the DuckDB comparison; a
  * timed op's output is checked against its warm-up result by digest. */
final class QueryRunner(spark: SparkSession, dataDir: String) extends OpRunner {
  private val warm = scala.collection.mutable.LinkedHashMap[String, (Array[Row], org.apache.spark.sql.types.StructType)]()

  override def run(op: Main.Op, span: SpanSink): OpResult = {
    val name = op.args.head
    val t0 = Gauges.nowMs
    val df = graft.SparkEntry.queries(name)(spark, dataDir)
    span("queries", "queries.build", t0, Gauges.nowMs)
    val rows = df.collect()
    if (op.group <= 0 && !warm.contains(name)) warm(name) = (rows, df.schema)
    OpResult(Seq("rows" -> rows.length, "digest" -> Digest.rows(rows)))
  }

  override def dumpResults(out: Path): Unit =
    warm.foreach { case (name, (rows, schema)) =>
      spark.createDataFrame(rows.toSeq.asJava, schema).coalesce(1)
        .write.mode("overwrite").parquet(out.resolve("results").resolve(name).toString)
    }
}

/** Order-independent 64-bit digests of result sets. */
object Digest {
  def rows(rs: Array[Row]): String = {
    var sum = 0L
    rs.foreach { r =>
      val s = r.toString
      val h = (scala.util.hashing.MurmurHash3.stringHash(s, 0x1234).toLong << 32) ^
        (scala.util.hashing.MurmurHash3.stringHash(s, 0x5678).toLong & 0xffffffffL)
      sum += h
    }
    java.lang.Long.toUnsignedString(sum)
  }

  /** Digest of (id, vector) rows; `plan.vec_digest` in `perfbench/plan.py`
    * computes the same function over the expected table state. */
  def vectors(rows: Iterable[(Long, Seq[Float])]): String = {
    var sum = 0L
    rows.foreach { case (id, v) =>
      var h = id * 0x9E3779B97F4A7C15L
      var j = 0
      v.foreach { f =>
        h = (h ^ ((java.lang.Float.floatToRawIntBits(f) & 0xffffffffL) + j)) * 0x100000001B3L
        j += 1
      }
      sum += h
    }
    java.lang.Long.toUnsignedString(sum)
  }
}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def value(v: Any): String = v match {
    case null => "null"
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case RawJson(j) => j
    case xs: Iterable[_] => xs.map(value).mkString("[", ",", "]")
    case p: Product => p.productIterator.map(value).mkString("[", ",", "]")
    case o => str(o.toString)
  }

  def obj(fields: Seq[(String, Any)]): String =
    fields.map { case (k, v) => str(k) + ":" + value(v) }.mkString("{", ",", "}")
}
