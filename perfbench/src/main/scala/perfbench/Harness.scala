package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicInteger

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

import graft.pipeline.{Incremental, ParquetSink, Registry, SqlModels, TableLayout, TableSink}

/** Epoch microseconds from the monotonic clock, aligned once to the wall
  * clock so spans line up with Spark's epoch-millisecond event times. */
object Clock {
  private val baseNs = System.nanoTime()
  private val baseUs = System.currentTimeMillis() * 1000L
  def us: Long = baseUs + (System.nanoTime() - baseNs) / 1000L
}

final case class Span(id: Int, parent: Int, name: String, start: Long, end: Long)

final case class JobRec(id: Int, span: Int, start: Long, var end: Long = -1L)

/** In-memory span tree. The open span's id rides a Spark local property,
  * so Spark jobs carry the span that submitted them, and threads a call
  * spawns (Registry's wave pool) inherit it as their parent. */
final class Spans(spark: SparkSession) {
  val Key = "perfbench.span"
  private val ids = new AtomicInteger(0)
  val done = new ConcurrentLinkedQueue[Span]()

  /** Runs `body` as a child span of the current one. */
  def apply[A](name: String)(body: => A): A = {
    val sc = spark.sparkContext
    val parent = sc.getLocalProperty(Key)
    val id = ids.incrementAndGet()
    sc.setLocalProperty(Key, id.toString)
    val t0 = Clock.us
    try body
    finally {
      done.add(Span(id, Option(parent).map(_.toInt).getOrElse(0), name, t0, Clock.us))
      sc.setLocalProperty(Key, parent)
    }
  }
}

/** Spark job and task metrics keyed by the span that submitted each job, and
  * Catalyst phase intervals of every query execution. Registered only in
  * the traced run. */
final class SparkTrace(spanKey: String) extends SparkListener with QueryExecutionListener {
  final class Acc {
    var tasks = 0L; var taskMs = 0L; var gcMs = 0L; var shufWrite = 0L
    var shufRead = 0L; var spill = 0L; var written = 0L
  }
  val jobs = new ConcurrentHashMap[Int, JobRec]()
  private val stageSpan = new ConcurrentHashMap[Int, Int]()
  val acc = new ConcurrentHashMap[Int, Acc]()
  val phases = new ConcurrentLinkedQueue[(String, Long, Long)]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val span = Option(e.properties).flatMap(p => Option(p.getProperty(spanKey)))
      .map(_.toInt).getOrElse(0)
    jobs.put(e.jobId, JobRec(e.jobId, span, e.time))
    e.stageIds.foreach(stageSpan.put(_, span))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_.end = e.time)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val a = acc.computeIfAbsent(stageSpan.getOrDefault(e.stageId, 0), _ => new Acc)
    val m = e.taskMetrics
    a.synchronized {
      a.tasks += 1
      a.taskMs += e.taskInfo.duration
      if (m != null) {
        a.gcMs += m.jvmGCTime
        a.shufWrite += m.shuffleWriteMetrics.bytesWritten
        a.shufRead += m.shuffleReadMetrics.totalBytesRead
        a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        a.written += m.outputMetrics.bytesWritten
      }
    }
  }

  private def record(qe: QueryExecution): Unit =
    qe.tracker.phases.foreach { case (name, p) =>
      phases.add((name, p.startTimeMs * 1000L, p.endTimeMs * 1000L))
    }
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    record(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    record(qe)
}

/** A [[TableSink]] that times every write as a `sink.<model>` span. */
final class TimingSink(inner: TableSink, spans: Spans) extends TableSink {
  private def t[A](name: String)(f: => A): A = spans(s"sink.$name")(f)
  override def overwrite(spark: SparkSession, layer: String, name: String, df: DataFrame,
      layout: TableLayout): DataFrame = t(name)(inner.overwrite(spark, layer, name, df, layout))
  override def merge(spark: SparkSession, layer: String, name: String, incoming: DataFrame,
      key: String, layout: TableLayout, onSchemaChange: Incremental.OnSchemaChange,
      predicates: Seq[String]): DataFrame =
    t(name)(inner.merge(spark, layer, name, incoming, key, layout, onSchemaChange, predicates))
  override def append(spark: SparkSession, layer: String, name: String, fresh: DataFrame,
      layout: TableLayout): DataFrame = t(name)(inner.append(spark, layer, name, fresh, layout))
  override def deleteInsert(spark: SparkSession, layer: String, name: String,
      incoming: DataFrame, keys: Seq[String], layout: TableLayout,
      onSchemaChange: Incremental.OnSchemaChange): DataFrame =
    t(name)(inner.deleteInsert(spark, layer, name, incoming, keys, layout, onSchemaChange))
  override def overwritePartitions(spark: SparkSession, layer: String, name: String,
      incoming: DataFrame, partitionBy: Seq[String], layout: TableLayout): DataFrame =
    t(name)(inner.overwritePartitions(spark, layer, name, incoming, partitionBy, layout))
  override def dropPartitions(spark: SparkSession, layer: String, name: String,
      partCol: String, values: Seq[Any]): Unit =
    t(name)(inner.dropPartitions(spark, layer, name, partCol, values))
  override def exists(spark: SparkSession, layer: String, name: String): Boolean =
    inner.exists(spark, layer, name)
  override def read(spark: SparkSession, layer: String, name: String): DataFrame =
    inner.read(spark, layer, name)
}

/** Runs one workload and writes its raw record (spans, samples, Spark
  * metrics) as JSON for run.py, which checks outputs and derives metrics.
  *
  * Usage: Harness key=value ... with keys kind (queries | medallion),
  * ops, artifacts, data (queries) or day1/day2 (medallion), exclude (a
  * dbt selector of models the medallion leaves out), models, work, out,
  * seed, seconds, trace (0 | 1), cpus, setups. */
object Harness {
  private var args: Map[String, String] = Map.empty
  private def arg(k: String): String = args.getOrElse(k, sys.error(s"missing argument $k"))
  private def list(k: String): Seq[String] =
    args.getOrElse(k, "").split(",").map(_.trim).filter(_.nonEmpty).toSeq

  private val failures = mutable.ArrayBuffer.empty[Map[String, Any]]
  private var attempted = 0

  /** Runs `body`, recording a failure of `what` instead of throwing. */
  private def guard[A](what: String)(body: => A): Option[A] = {
    attempted += 1
    try Some(body) catch {
      case NonFatal(e) =>
        failures += Map("what" -> what, "error" -> s"${e.getClass.getName}: ${e.getMessage}".take(400))
        None
    }
  }

  private def session(cpus: Int, work: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", "10000")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/spark-warehouse")
      .withExtensions(new graft.plans.GraftExtensions()(_))
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Points every build-once artifact cache at `root`, so a set-up builds
    * them anew. */
  private def artifactRoot(spark: SparkSession, root: String): Unit = {
    spark.conf.set(graft.ops.IvfIndex.RootKey, s"$root/ann")
    spark.conf.set(graft.ops.IncrementalDedup.SteadyRootKey, s"$root/steady")
    spark.conf.set(graft.ops.IncrementalDedup.StoreRootKey, s"$root/store")
    spark.conf.set(graft.quality.SilverStage.RootKey, s"$root/silver")
  }

  /** Builds one kind of build-once artifact, with the calls Bench makes. */
  private def buildArtifact(spark: SparkSession, kind: String, dir: String): Unit = kind match {
    case "ivf" =>
      graft.ops.IvfIndex.centroids(spark, dir).count()
      graft.ops.IvfIndex.lists(spark, dir).count()
      graft.ops.IvfIndex.pqCodebooks(spark, dir).count()
      graft.ops.IvfIndex.pqCodes(spark, dir).count()
      graft.ops.IvfIndex.int8Codes(spark, dir).count()
    case "lsh" => graft.ops.Similarity.lshSignatureBase(spark, dir).count()
    case "steady" => graft.ops.IncrementalDedup.steadyStore(spark, dir)
    case "silverstage" => graft.quality.SilverStage.tables(spark, dir)
    case other => sys.error(s"unknown artifact kind $other")
  }

  /** Live heap: used heap after a full collection. The second collection
    * frees what Spark's ContextCleaner released in reaction to the
    * first (broadcast and checkpoint blocks of dropped frames). */
  private def heapUsedMb(): Double = {
    System.gc()
    Thread.sleep(50)
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  def main(argv: Array[String]): Unit = {
    args = argv.map(_.split("=", 2)).collect { case Array(k, v) => k -> v }.toMap
    val jvmStartUs = ManagementFactory.getRuntimeMXBean.getStartTime * 1000L
    val work = arg("work")
    val trace = arg("trace") == "1"
    val seconds = arg("seconds").toDouble
    val seed = arg("seed").toLong
    val spark = session(arg("cpus").toInt, work)
    val spans = new Spans(spark)
    val sparkTrace = new SparkTrace(spans.Key)
    if (trace) {
      spark.sparkContext.addSparkListener(sparkTrace)
      spark.listenerManager.register(sparkTrace)
    }
    val sessionUs = Clock.us
    val medallion = arg("kind") == "medallion"
    val dir = if (medallion) arg("day2") else arg("data")

    // Set-up: the build-once artifacts, built `setups` times into fresh
    // roots (the median is reported), then a hit on the last build.
    val artifacts = list("artifacts")
    (1 to arg("setups").toInt).foreach { i =>
      artifactRoot(spark, s"$work/artifacts/$i")
      spans(s"setup.$i") {
        artifacts.foreach(k => guard(s"artifact $k")(spans(s"artifact.$k.build")(buildArtifact(spark, k, dir))))
      }
    }
    artifacts.foreach(k => guard(s"artifact $k hit")(spans(s"artifact.$k.hit")(buildArtifact(spark, k, dir))))

    val checkDir = s"$work/check"
    if (medallion) runMedallion(spark, spans, seconds, work, checkDir)
    else runQueries(spark, spans, seed, seconds, checkDir)
    spark.stop()
    Thread.sleep(200)

    val json = Json.obj(
      "jvm_start_us" -> jvmStartUs,
      "session_us" -> sessionUs,
      "attempted" -> attempted,
      "failures" -> failures.toSeq,
      "peak_heap_mb" -> peakHeap,
      "oracle" -> checked.map(n => n -> graft.SparkEntry.oracleSql(n)).toMap,
      "pins" -> pins.toSeq,
      "spans" -> spans.done.asScala.toSeq.sortBy(_.id).map(s =>
        Seq(s.id, s.parent, s.name, s.start, s.end)),
      "jobs" -> sparkTrace.jobs.values.asScala.toSeq.sortBy(_.id).map(j =>
        Seq(j.id, j.span, j.start * 1000L, j.end * 1000L)),
      "tasks" -> sparkTrace.acc.asScala.toSeq.sortBy(_._1).map { case (span, a) =>
        Seq(span, a.tasks, a.taskMs, a.gcMs, a.shufWrite, a.shufRead, a.spill, a.written) },
      "phases" -> sparkTrace.phases.asScala.toSeq.map { case (n, s, e) => Seq(n, s, e) })
    Files.write(Paths.get(arg("out")), json.getBytes(StandardCharsets.UTF_8))
  }

  /** Whole timed passes until `seconds` have passed, at least one. */
  private def timedPasses(seconds: Double)(pass: Int => Unit): Unit = {
    val deadline = Clock.us + (seconds * 1e6).toLong
    var n = 0
    while (n == 0 || Clock.us < deadline) {
      n += 1
      pass(n)
    }
  }

  private var peakHeap = 0.0
  /** Ops whose output was written under the check directory. */
  private val checked = mutable.ArrayBuffer.empty[String]
  private val pins = mutable.ArrayBuffer.empty[Seq[Any]]

  private def jitMs: Long = ManagementFactory.getCompilationMXBean.getTotalCompilationTime

  /** Live heap, persisted RDDs and JIT compile time at an op boundary of
    * a timed pass. */
  private def boundary(spark: SparkSession, pass: Int, op: String): Unit = {
    val sc = spark.sparkContext
    val pinnedMb = sc.getRDDStorageInfo.map(r => r.memSize + r.diskSize).sum / 1048576.0
    val heap = heapUsedMb()
    if (pass > 0) peakHeap = math.max(peakHeap, heap)
    pins += Seq(pass, op, sc.getPersistentRDDs.size, pinnedMb, jitMs)
  }

  /** Waits (up to `maxSeconds`) for the JIT compile queue the warm-up
    * filled to drain, so background compilation does not compete with
    * the first timed pass for cores. */
  private def settleJit(maxSeconds: Double): Unit = {
    val until = Clock.us + (maxSeconds * 1e6).toLong
    var last = jitMs
    Thread.sleep(250)
    while (jitMs - last > 25 && Clock.us < until) {
      last = jitMs
      Thread.sleep(250)
    }
  }

  /** Query workloads: an untimed pass writes every op's output for the
    * oracle check (and warms the JVM); then seeded-order timed passes run
    * until the deadline, each op as construction plus a `noop` write of
    * every column, then a freshly built `.count()`. */
  private def runQueries(spark: SparkSession, spans: Spans, seed: Long, seconds: Double,
      checkDir: String): Unit = {
    val dir = arg("data")
    val ops = list("ops")
    val fns = graft.SparkEntry.queries
    spans("check") {
      ops.foreach { op =>
        guard(s"$op check")(spans(s"check.$op")(
          fns(op)(spark, dir).coalesce(1).write.mode("overwrite").parquet(s"$checkDir/$op")))
        if (graft.SparkEntry.oracleSql.contains(op)) checked += op
      }
    }
    spans("settle")(settleJit(5))
    timedPasses(seconds) { pass =>
      val order = new scala.util.Random(seed * 7919 + pass).shuffle(ops)
      spans(s"pass.$pass") {
        order.foreach { op =>
          boundary(spark, pass, op)
          spans(s"op.$op") {
            guard(s"$op noop") {
              val df = spans("construct")(fns(op)(spark, dir))
              spans("noop")(df.write.format("noop").mode("overwrite").save())
            }
            guard(s"$op count")(spans("count")(fns(op)(spark, dir).count()))
          }
        }
        boundary(spark, pass, "end")
      }
    }
  }

  /** Counts per medallion query; count_s sums their per-query medians,
    * since a single count of these sub-second queries is noisy. */
  private val CountReps = 4

  /** The medallion pipeline as one CLI invocation sees it: render the
    * SQL models, build them into an empty warehouse from day-1 inputs,
    * refresh on day-2, run the data quality summary and source
    * freshness, then count each medallion query over day-2 the way Bench
    * times it, [[CountReps]] times. There is no warm-up pass: a pipeline
    * run pays its cold start every time. Models materialize one at a
    * time, so each model's sink time is its own. Models that `exclude`
    * selects are left out of both runs and of the check. Pass 1's
    * refreshed tables are exported for the oracle check, after its
    * timing. */
  private def runMedallion(spark: SparkSession, spans: Spans, seconds: Double,
      work: String, checkDir: String): Unit = {
    val (day1, day2) = (arg("day1"), arg("day2"))
    val counted = list("ops")
    val fns = graft.SparkEntry.queries
    val exclude = Option(args.getOrElse("exclude", "")).filter(_.nonEmpty)
    var excluded = Set.empty[String]
    timedPasses(seconds) { pass =>
      val sink = new TimingSink(new ParquetSink(s"$work/warehouse/$pass"), spans)
      spans(s"pass.$pass") {
        val models = guard("render")(spans("render")(SqlModels.load(new File(arg("models")))))
        boundary(spark, pass, "start")
        models.foreach { ms =>
          excluded = exclude.map(Registry.selectClosure(_, ms)).getOrElse(Set.empty)
          guard("build")(spans("build")(
            Registry.run(spark, day1, sink, threads = 1, all = ms, exclude = exclude)))
          boundary(spark, pass, "build")
          guard("refresh")(spans("refresh")(
            Registry.run(spark, day2, sink, threads = 1, all = ms, exclude = exclude)))
          boundary(spark, pass, "refresh")
        }
        guard("dq")(spans("dq") {
          graft.quality.DataQuality.summary(spark, day2).collect()
          Registry.sourceFreshness(spark, day2)
        })
        boundary(spark, pass, "dq")
        counted.foreach { op =>
          (1 to CountReps).foreach(_ => guard(s"$op count")(spans(s"count.$op")(fns(op)(spark, day2).count())))
        }
        boundary(spark, pass, "end")
      }
      if (pass == 1) exportTables(spark, sink, checkDir, excluded)
      else deleteTree(new File(s"$work/warehouse/$pass"))
    }
  }

  /** Writes the refreshed warehouse tables, shaped by the query registry's
    * column spec for the same model, for the oracle check on day-2. */
  private def exportTables(spark: SparkSession, sink: TableSink, checkDir: String,
      excluded: Set[String]): Unit = {
    val specs = graft.Queries.specs.map(s => s.name -> s).toMap
    val tables = Seq("silver" -> "silver_customers", "silver" -> "silver_orders",
      "silver" -> "silver_payments", "gold" -> "gold_customer_summary",
      "gold" -> "gold_order_metrics", "gold" -> "gold_revenue_analysis")
    tables.filterNot { case (_, name) => excluded(name) }.foreach { case (layer, name) =>
      val s = specs(name)
      guard(s"$name check")(graft.model.Finalize.spark(sink.read(spark, layer, name), s.cols, s.keys)
        .coalesce(1).write.mode("overwrite").parquet(s"$checkDir/$name"))
      checked += name
    }
  }

  private def deleteTree(f: File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
  }
}

/** Minimal JSON writer for the harness record. */
object Json {
  def obj(kv: (String, Any)*): String = value(kv.toMap)
  def value(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => value(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Map[_, _] =>
      m.map { case (k, x) => s"${quote(k.toString)}:${value(x)}" }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(value).mkString("[", ",", "]")
    case other => quote(other.toString)
  }
  private def quote(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
