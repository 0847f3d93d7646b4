package graft.perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Traced runs only: attributes every Spark job, stage and task to the
  * op whose job group it carries, or else to the op that was running
  * when it started (the benchmark runs one op at a time), and to a
  * program layer. A job's layer is the innermost program frame of its
  * SQL execution's call site, or of its own (`Subsetter.scala` →
  * `subsetter`, `ConnectedComponents.scala` → `cc`, ...); streaming
  * micro-batches carry a query id instead; anything else belongs to the
  * op's layer.
  */
final class LayerListener extends SparkListener {
  import LayerListener._

  private val jobs = mutable.LinkedHashMap[Int, Job]()
  private val stageJob = mutable.Map[Int, Int]()
  private val jdbcStages = mutable.Set[Int]()
  private val tasks = mutable.ArrayBuffer[Task]()
  @volatile var batches = 0

  val streams: StreamingQueryListener = new StreamingQueryListener {
    def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = batches += 1
    def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  private val frameLayer = Seq(
    "Subsetter.scala" -> "subsetter", "ConnectedComponents.scala" -> "cc",
    "EventStreams.scala" -> "streaming", "FkGraph.scala" -> "fkgraph",
    "Sources.scala" -> "sources", "Catalog.scala" -> "sources",
    "SubsetCli.scala" -> "subsetter",
    "RelationalQueries.scala" -> "queries.relational", "CoreQueries.scala" -> "queries.core",
    "TextQueries.scala" -> "queries.text", "SimilarityQueries.scala" -> "queries.similarity",
    "SimilarityFunctions.scala" -> "queries.similarity", "TextFunctions.scala" -> "queries.text",
    "EventQueries.scala" -> "queries.event", "MultimodalQueries.scala" -> "queries.multimodal",
    "Multimodal.scala" -> "queries.multimodal", "ProfileQueries.scala" -> "queries.profile",
    "GraphQueries.scala" -> "queries.graph")

  /** Innermost program frame of a long-form call site, mapped to a layer. */
  private def layerOf(details: String, props: java.util.Properties): String =
    if (props != null && props.getProperty("sql.streaming.queryId") != null) "streaming"
    else details.linesIterator
      .filter(l => l.contains("graft.") && !l.contains("graft.perfbench"))
      .flatMap(l => frameLayer.collectFirst { case (f, layer) if l.contains(s"($f:") => layer })
      .nextOption().getOrElse("")

  /** Call site of each SQL execution: adaptive query stages start their
    * jobs from Spark's own threads, so the action's call site is the one
    * that names the program frame. */
  private val execSite = mutable.Map[Long, String]()

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart =>
      synchronized { execSite(s.executionId) = s.details }
    case _ => ()
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val exec = Option(e.properties).flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      .flatMap(id => execSite.get(id.toLong))
    val site = e.stageInfos.sortBy(_.stageId).lastOption.map(_.details).getOrElse("")
    val layer = Seq(exec.getOrElse(""), site).map(layerOf(_, e.properties))
      .find(_.nonEmpty).getOrElse("")
    val group = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
    jobs(e.jobId) = Job(e.jobId, e.time, e.time, layer, group.getOrElse(""), 0)
    e.stageIds.foreach(s => stageJob.getOrElseUpdate(s, e.jobId))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.end = e.time)
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    stageJob.get(e.stageInfo.stageId).flatMap(jobs.get).foreach(_.stages += 1)
    if (e.stageInfo.rddInfos.exists(_.name.contains("JDBC"))) jdbcStages += e.stageInfo.stageId
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) tasks += Task(e.stageId, e.taskInfo.launchTime, e.taskInfo.finishTime,
      m.executorRunTime / 1e3, m.executorCpuTime / 1e9, m.jvmGCTime / 1e3,
      m.inputMetrics.bytesRead, m.outputMetrics.bytesWritten, m.outputMetrics.recordsWritten,
      m.shuffleWriteMetrics.bytesWritten, m.memoryBytesSpilled + m.diskBytesSpilled)
  }

  /** Wait until every event posted so far has reached the listener. */
  def finish(spark: SparkSession): Unit =
    org.apache.spark.perfbenchshim.ListenerBusShim.drain(spark.sparkContext)

  /** Length of the union of `intervals` clipped to [lo, hi). */
  private def covered(intervals: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    var total = 0L; var curEnd = lo
    intervals.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1).foreach { case (a, b) =>
        if (b > curEnd) { total += b - math.max(a, curEnd); curEnd = b }
      }
    total
  }

  /** The per-layer metrics of the traced window, keyed as BENCHMARK.json
    * names them. Op windows are in wall-clock ms, like listener times. */
  def layers(ops: Seq[Op], cores: Int, timers: Map[String, Double]): Map[String, Any] = synchronized {
    val nanoToMs = System.currentTimeMillis() - System.nanoTime() / 1000000L
    val windows = ops.map(o => (o, o.start_ns / 1000000L + nanoToMs, o.end_ns / 1000000L + nanoToMs))
    val busy = tasks.map(t => (t.launch, t.finish)).toSeq
    def opOf(ms: Long): Option[Op] =
      windows.collectFirst { case (o, a, b) if ms >= a && ms <= b => o }
    // the op's job group names it; jobs of Spark's own threads (stream
    // micro-batches) carry another group and go by start time instead
    val jobOp: Map[Int, Option[Op]] = jobs.values.map { j =>
      val tagged = Some(j.group).filter(_.startsWith("op-"))
        .flatMap(g => ops.lift(g.stripPrefix("op-").toInt))
      j.id -> tagged.orElse(opOf(j.start))
    }.toMap
    def jobLayer(j: Job): String =
      if (j.layer.nonEmpty) j.layer
      else jobOp(j.id)
        .map(o => if (o.kind == "query") s"queries.${o.module}" else o.module).getOrElse("")
    def taskJob(t: Task): Option[Job] = stageJob.get(t.stage).flatMap(jobs.get)
    def idle(os: Seq[Op]): Double = windows.filter(w => os.contains(w._1)).map { case (o, a, b) =>
      (b - a - covered(busy, a, b)) / 1e3 }.sum
    val inWindow = tasks.filter(t => taskJob(t).exists(j => jobOp(j.id).isDefined)).toSeq
    val wall = ops.map(_.seconds).sum
    val out = mutable.LinkedHashMap[String, Any]()

    // engine: everything the scheduler ran during the ops
    val winJobs = jobs.values.filter(j => jobOp(j.id).isDefined).toSeq
    out("engine.jobs") = winJobs.size
    out("engine.stages") = winJobs.map(_.stages).sum
    out("engine.tasks") = inWindow.size
    out("engine.task_run_s") = inWindow.map(_.runS).sum
    out("engine.task_cpu_s") = inWindow.map(_.cpuS).sum
    out("engine.gc_s") = inWindow.map(_.gcS).sum
    out("engine.idle_s") = idle(ops)
    out("engine.busy_frac") = if (wall > 0) inWindow.map(t => (t.finish - t.launch) / 1e3).sum / (wall * cores) else 0.0
    out("engine.shuffle_write_bytes") = inWindow.map(_.shuffleW).sum
    out("engine.spill_bytes") = inWindow.map(_.spill).sum

    // sources: every scan and write goes through this layer
    out("sources.footer_s") = timers.getOrElse("sources.footer_s", 0.0)
    out("sources.scan_bytes") = inWindow.map(_.inBytes).sum
    val writes = inWindow.filter(_.outRecords > 0)
    out("sources.write_s") = writes.map(_.runS).sum
    out("sources.write_bytes") = writes.map(_.outBytes).sum
    val jdbc = inWindow.filter(t => jdbcStages(t.stage))
    out("sources.jdbc_read_s") = jdbc.map(_.runS).sum
    out("sources.jdbc_tasks") = jdbc.size

    out("fkgraph.reflect_s") = timers.getOrElse("fkgraph.reflect_s", 0.0)

    // subsetter: the subset workload's phases, and jobs its frames started
    def phase(kind: String) = ops.filter(o => o.kind == kind && o.module == "subsetter")
    out("subsetter.subset_s") = phase("subset").map(_.seconds).sum
    out("subsetter.validate_s") = phase("validate").map(_.seconds).sum
    val subJobs = winJobs.filter(j => jobLayer(j) == "subsetter")
    val subTasks = inWindow.filter(t => taskJob(t).exists(j => jobLayer(j) == "subsetter"))
    out("subsetter.jobs") = subJobs.size
    out("subsetter.stages") = subJobs.map(_.stages).sum
    out("subsetter.idle_s") = idle(ops.filter(_.module == "subsetter"))
    out("subsetter.shuffle_bytes") = subTasks.map(_.shuffleW).sum
    out("subsetter.spill_bytes") = subTasks.map(_.spill).sum

    // queries.<m>: ops of the module's keys
    for (m <- Seq("relational", "core", "event", "profile", "text", "similarity",
                  "multimodal", "graph")) {
      val mops = ops.filter(o => o.kind == "query" && o.module == m)
      val mjobs = winJobs.filter(j => jobOp(j.id).exists(mops.contains))
      val ids = mjobs.map(_.id).toSet
      out(s"queries.$m.s") = mops.map(_.seconds).sum
      out(s"queries.$m.jobs") = mjobs.size
      out(s"queries.$m.idle_s") = idle(mops)
      out(s"queries.$m.task_cpu_s") =
        inWindow.filter(t => taskJob(t).exists(j => ids(j.id))).map(_.cpuS).sum
    }

    // cc: jobs started from ConnectedComponents frames; rounds per op that ran it
    val ccJobs = winJobs.filter(_.layer == "cc")
    val ccOps = ccJobs.flatMap(j => jobOp(j.id)).distinct
    out("cc.s") = ccJobs.map(j => (j.end - j.start) / 1e3).sum
    out("cc.rounds") = if (ccOps.isEmpty) 0.0 else ccJobs.size.toDouble / ccOps.size

    val streamOps = ops.filter(_.key.startsWith("stream_"))
    out("streaming.s") = streamOps.map(_.seconds).sum
    out("streaming.batches") = batches
    out.toMap
  }
}

object LayerListener {
  private final case class Job(id: Int, start: Long, var end: Long, layer: String,
                               group: String, var stages: Int)
  private final case class Task(stage: Int, launch: Long, finish: Long, runS: Double,
                                cpuS: Double, gcS: Double, inBytes: Long, outBytes: Long,
                                outRecords: Long, shuffleW: Long, spill: Long)
}
