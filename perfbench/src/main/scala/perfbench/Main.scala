package perfbench

import java.io.{BufferedOutputStream, File, FileOutputStream}
import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.PerfbenchBus
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

import graft.engine.{Catalog, Engine, Export, Page, Render, Session}

/** Workbench benchmark runner. Runs one workload script the way the
  * workbench is used — import a folder, type SQL, read the first page,
  * search and sort it, download CSV and Arrow, edit tables — from one
  * closed-loop client thread, and writes every timing and every output to
  * a JSON file that `perfbench/run.py` checks and summarizes.
  *
  * Usage: `Main run <spec.json> <out.json>` or `Main inventory <out.json>`
  * (the latter dumps `SparkEntry.oracleSql`, the source of the pinned
  * `explore` statements).
  */
object Main {
  val json: ObjectMapper = new ObjectMapper().registerModule(DefaultScalaModule)

  def main(args: Array[String]): Unit = args.toList match {
    case List("inventory", out) =>
      json.writeValue(new File(out), graft.SparkEntry.oracleSql)
    case List("run", spec, out) =>
      json.writeValue(new File(out), new Runner(Spec(json.readTree(new File(spec)))).run())
    case _ =>
      System.err.println("usage: Main run <spec.json> <out.json> | Main inventory <out.json>")
      sys.exit(2)
  }
}

/** One user action. `page`: Engine.sql + first page (+ optional search,
  * sort and CSV/Arrow download); `dml`: Engine.sql of a write statement;
  * `script`: Engine.runScript of a multi-statement text. */
final case class Step(
    id: String, kind: String, sql: String, search: Option[String],
    sort: Option[(Int, Boolean)], export: Boolean)

final case class Spec(
    seconds: Double, trace: Boolean, dataDir: String,
    runDir: String, setups: Int, round: Int, maxSteps: Int, views: Seq[String],
    prepare: Seq[String], teardown: Seq[String], warm: Seq[Step],
    steps: Seq[Step])

object Spec {
  private def strings(n: JsonNode): Seq[String] = n.elements.asScala.map(_.asText).toSeq

  private def step(n: JsonNode): Step = Step(
    n.get("id").asText, n.get("kind").asText, n.get("sql").asText,
    Option(n.get("search")).map(_.asText),
    Option(n.get("sort")).map(s => (s.get(0).asInt, s.get(1).asBoolean)),
    Option(n.get("export")).exists(_.asBoolean))

  def apply(n: JsonNode): Spec = Spec(
    n.get("seconds").asDouble, n.get("trace").asBoolean,
    n.get("data_dir").asText, n.get("run_dir").asText, n.get("setups").asInt,
    n.get("round").asInt, n.get("max_steps").asInt, strings(n.get("views")), strings(n.get("prepare")),
    strings(n.get("teardown")), n.get("warm").elements.asScala.map(step).toSeq,
    n.get("steps").elements.asScala.map(step).toSeq)
}

/** Start of a span: wall, epoch (to line up with listener event times),
  * thread CPU and codegen counters. */
final class Mark {
  private val ns = System.nanoTime
  private val ms = System.currentTimeMillis
  private val cpu = Mark.threads.getCurrentThreadCpuTime
  private val compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
  private val compileNs = CodeGenerator.compileTime

  def seconds: Double = (System.nanoTime - ns) / 1e9

  def end(name: String): Map[String, Any] = Map(
    "name" -> name, "start_ms" -> ms, "end_ms" -> System.currentTimeMillis,
    "s" -> seconds, "cpu_s" -> (Mark.threads.getCurrentThreadCpuTime - cpu) / 1e9,
    "compiles" -> (CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compiles),
    "compile_s" -> (CodeGenerator.compileTime - compileNs) / 1e9)
}

object Mark {
  val threads = ManagementFactory.getThreadMXBean
}

/** Buffers job, stage, task and query-phase events in memory while a
  * traced run's measured loop runs. */
final class Tracer extends SparkListener with QueryExecutionListener {
  val events = new ConcurrentLinkedQueue[Map[String, Any]]()

  override def onJobStart(e: SparkListenerJobStart): Unit = events.add(Map(
    "ev" -> "job_start", "job" -> e.jobId, "ms" -> e.time, "stages" -> e.stageIds,
    "group" -> Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull))

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    events.add(Map("ev" -> "job_end", "job" -> e.jobId, "ms" -> e.time))

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val s = e.stageInfo
    events.add(Map("ev" -> "stage", "stage" -> s.stageId, "attempt" -> s.attemptNumber(),
      "start_ms" -> s.submissionTime.getOrElse(-1L),
      "end_ms" -> s.completionTime.getOrElse(-1L), "tasks" -> s.numTasks))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val i = e.taskInfo
    val base = Map[String, Any]("ev" -> "task", "stage" -> e.stageId,
      "start_ms" -> i.launchTime, "end_ms" -> i.finishTime)
    events.add(Option(e.taskMetrics).fold(base) { m =>
      base ++ Map(
        "run_ms" -> m.executorRunTime, "cpu_ns" -> m.executorCpuTime,
        "gc_ms" -> m.jvmGCTime, "in_bytes" -> m.inputMetrics.bytesRead,
        "in_rows" -> m.inputMetrics.recordsRead,
        "shuffle_w" -> m.shuffleWriteMetrics.bytesWritten,
        "spill" -> (m.memoryBytesSpilled + m.diskBytesSpilled),
        "out_rows" -> m.outputMetrics.recordsWritten,
        "out_bytes" -> m.outputMetrics.bytesWritten)
    })
  }

  private def query(func: String, qe: QueryExecution, ok: Boolean): Unit =
    events.add(Map("ev" -> "query", "func" -> func, "ok" -> ok,
      "phases" -> qe.tracker.phases.map { case (k, p) =>
        k -> Seq(p.startTimeMs, p.endTimeMs) }))

  override def onSuccess(func: String, qe: QueryExecution, durationNs: Long): Unit =
    query(func, qe, ok = true)

  override def onFailure(func: String, qe: QueryExecution, e: Exception): Unit =
    query(func, qe, ok = false)
}

final class Runner(spec: Spec) {
  private val exportDir = Paths.get(spec.runDir, "exports")

  private def session(i: Int): SparkSession = {
    val s = Session.builder()
      .config("spark.local.dir", s"${spec.runDir}/local")
      .config("spark.sql.warehouse.dir", s"${spec.runDir}/warehouse-$i")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Session start + folder import + views + warm pass, as a user opening
    * the workbench on a folder would wait for it. */
  private def setup(i: Int): (SparkSession, Map[String, Any]) = {
    val start = new Mark
    val spark = session(i)
    val started = start.seconds
    Catalog.importFolder(spark, Paths.get(spec.dataDir))
    spec.views.foreach(Engine.exec(spark, _))
    val imported = start.seconds
    spec.prepare.foreach(Engine.runScript(spark, _))
    val warm = spec.warm.zipWithIndex.map { case (s, j) =>
      runStep(spark, s, -1 - j, tracer = None) }
    val total = start.seconds
    (spark, Map("session_start_s" -> started, "import_s" -> (imported - started),
      "warm_s" -> (total - imported), "setup_s" -> total,
      "warm_records" -> warm))
  }

  private def teardown(spark: SparkSession): Unit = {
    spec.teardown.foreach(Engine.exec(spark, _))
    spark.stop()
  }

  private def pageJson(t: Render.DisplayTable): Map[String, Any] =
    Map("columns" -> t.columns, "rows" -> t.rows, "total" -> t.totalRows)

  def runStep(
      spark: SparkSession, step: Step, index: Int,
      tracer: Option[Tracer]): mutable.LinkedHashMap[String, Any] = {
    val rec = mutable.LinkedHashMap[String, Any](
      "i" -> index, "id" -> step.id, "traced" -> tracer.nonEmpty)
    val spans = mutable.ArrayBuffer[Map[String, Any]]()
    def span[T](name: String)(body: => T): T = {
      val m = new Mark
      try body finally spans += m.end(name)
    }
    var csvParts = Seq.empty[String]
    tracer.foreach(_ => spark.sparkContext.setJobGroup(s"stmt-$index", step.id))
    val stmt = new Mark
    try {
      step.kind match {
        case "page" =>
          val df = span("route")(Engine.sql(spark, step.sql))
          val page = span("page")(Render.tableToRows(df))
          rec("page") = pageJson(page)
          if (step.search.nonEmpty || step.sort.nonEmpty) span("search_sort") {
            step.search.foreach(q => rec("search_rows") = Page.searchRows(page, q).rows)
            step.sort.foreach { case (c, asc) =>
              rec("sort_rows") = Page.sortRows(page, c, asc).rows }
          }
          if (step.export) {
            val csv = span("csv")(Export.toCsvParts(df))
            csvParts = csv.parts
            rec("csv_rows") = csv.rows
            val arrow = exportDir.resolve(s"$index.arrow").toFile
            span("arrow") {
              val out = new BufferedOutputStream(new FileOutputStream(arrow), 1 << 16)
              try Export.toArrowStream(df, out) finally out.close()
            }
            rec("arrow_bytes") = arrow.length
          }
        case "dml" => span("dml")(Engine.sql(spark, step.sql))
        case "script" => span("dml")(Engine.runScript(spark, step.sql))
      }
      rec("ok") = true
    } catch {
      case NonFatal(e) =>
        rec("ok") = false
        rec("error") = s"${e.getClass.getName}: ${String.valueOf(e.getMessage).take(600)}"
    } finally {
      spans += stmt.end("statement")
      tracer.foreach(_ => spark.sparkContext.clearJobGroup())
    }
    if (csvParts.nonEmpty) {
      val f = exportDir.resolve(s"$index.csv")
      val out = new BufferedOutputStream(new FileOutputStream(f.toFile), 1 << 16)
      try csvParts.foreach(p => out.write(p.getBytes(StandardCharsets.UTF_8)))
      finally out.close()
      rec("csv_bytes") = Files.size(f)
    }
    rec("spans") = spans.toSeq
    rec
  }

  private def mb(bytes: Long): Double = bytes / 1048576.0

  def run(): Map[String, Any] = {
    Files.createDirectories(exportDir)
    val setups = (1 to spec.setups).map { i =>
      val (spark, times) = setup(i)
      if (i < spec.setups) teardown(spark)
      (spark, times)
    }
    val spark = setups.last._1
    val sc = spark.sparkContext
    val tracer = if (spec.trace) Some(new Tracer) else None
    tracer.foreach { t =>
      sc.addSparkListener(t)
      spark.listenerManager.register(t)
    }

    val records = mutable.ArrayBuffer[mutable.LinkedHashMap[String, Any]]()
    val loop = new Mark
    val deadline = System.nanoTime + (spec.seconds * 1e9).toLong
    var i = 0
    // whole rounds only, so every run measures the same mix of actions
    while ((System.nanoTime < deadline || i % spec.round != 0) && i < spec.maxSteps) {
      records += runStep(spark, spec.steps(i % spec.steps.size), i, tracer)
      i += 1
    }
    val loopS = loop.seconds
    tracer.foreach { t =>
      PerfbenchBus.drain(sc)
      sc.removeSparkListener(t)
      spark.listenerManager.unregister(t)
    }

    System.gc(); System.gc()
    val heap = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
    val metaspace = ManagementFactory.getMemoryPoolMXBeans.asScala
      .find(_.getName == "Metaspace").map(_.getUsage.getUsed).getOrElse(0L)
    val conf = spark.conf
    val config = Map(
      "master" -> sc.master, "spark_version" -> spark.version,
      "java_version" -> System.getProperty("java.version"),
      "codegen_cache_max_entries" ->
        conf.get("spark.sql.codegen.cache.maxEntries", "100"),
      "shuffle_partitions" -> conf.get("spark.sql.shuffle.partitions"),
      "adaptive" -> conf.get("spark.sql.adaptive.enabled"))
    teardown(spark)
    Map("setups" -> setups.map(_._2), "loop_s" -> loopS, "steps" -> records.toSeq,
      "live_heap_mb" -> mb(heap), "metaspace_mb" -> mb(metaspace),
      "config" -> config,
      "trace_events" -> tracer.fold(Seq.empty[Map[String, Any]])(_.events.asScala.toSeq))
  }
}
