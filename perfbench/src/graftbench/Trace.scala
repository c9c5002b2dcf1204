package graftbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.{Success => TaskSuccess}
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{CommandResultExec, GenerateExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.graftbench.SqlEvents

object Clock {
  /** Wall clock in epoch microseconds (the unit of every span). */
  def nowUs(): Long = {
    val i = java.time.Instant.now()
    i.getEpochSecond * 1000000L + i.getNano / 1000
  }
}

object Plans {
  /** Whether a SQL execution is a file write, from its physical plan text. */
  def isWrite(physicalPlanDescription: String): Boolean =
    physicalPlanDescription.contains("Execute InsertIntoHadoopFsRelationCommand")
}

/** One closed interval of the trace, in epoch microseconds. `parent` is
  * the id of the enclosing span (0 = none). */
final case class Span(id: Int, name: String, layer: String, parent: Int,
    start: Long, end: Long) {
  def dur: Long = end - start
}

/** Counters the untraced run needs as well: the `observe()` metrics the
  * program attaches to its DataFrames, the duration of every write
  * command (the asset writes the IO manager makes inside the program's
  * own pipeline steps) and of every streaming microbatch. They arrive
  * through Spark's listener APIs; [[take]] returns and resets what
  * arrived since the last call. */
final class Counters(spark: SparkSession) {
  private val observed = mutable.Map.empty[String, Double].withDefaultValue(0.0)
  private val progress = mutable.ArrayBuffer.empty[(Map[String, Long], Long)]

  private val uuid = "[0-9a-f]{8}-[0-9a-f]{4}-.*".r

  private val writes = mutable.ArrayBuffer.empty[Double]
  private val started = mutable.Map.empty[Long, (Long, Boolean)]

  private val sqlEvents = new SparkListener {
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart => Counters.this.synchronized {
        started(s.executionId) = (s.time, Plans.isWrite(s.physicalPlanDescription))
      }
      case s: SparkListenerSQLExecutionEnd => Counters.this.synchronized {
        started.remove(s.executionId).foreach { case (t0, w) => if (w) writes += (s.time - t0) / 1e3 }
        SqlEvents.qe(s).foreach(qe => qe.observedMetrics.foreach { case (name0, row) =>
          val name = name0 match { case uuid() => "anon"; case n => n }
          row.schema.fields.zipWithIndex.foreach { case (f, i) =>
            if (!row.isNullAt(i)) row.get(i) match {
              case n: java.lang.Number => observed(s"$name.${f.name}") += n.doubleValue
              case s: scala.collection.Seq[_] => observed(s"$name.${f.name}") += s.size
              case _ =>
            }
          }
        })
      }
      case _ =>
    }
  }

  private val sql = new StreamingQueryListener {
    def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      Counters.this.synchronized {
        val p = e.progress
        // idle progress events (no batch ran) carry no addBatch phase
        if (p.durationMs.containsKey("addBatch"))
          progress += ((p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap,
            p.stateOperators.map(_.numRowsTotal).sum))
      }
  }

  def attach(): Unit = {
    spark.sparkContext.addSparkListener(sqlEvents)
    spark.streams.addListener(sql)
  }

  def detach(): Unit = {
    spark.sparkContext.removeSparkListener(sqlEvents)
    spark.streams.removeListener(sql)
  }

  /** (observed metric totals, per-microbatch (phase ms, state rows),
    * durations of write commands). */
  def take(): (Map[String, Double], Seq[(Map[String, Long], Long)], Seq[Double]) = synchronized {
    val r = (observed.toMap, progress.toSeq, writes.toSeq)
    observed.clear(); progress.clear(); writes.clear()
    r
  }
}

/** The traced run's recorder. Benchmark spans (iteration, step, operator
  * call, commit call, read-back) are opened on the single driver thread
  * with [[span]], which also sets a job group naming the span, so Spark
  * jobs link to the call that caused them. Jobs, stages and task metrics
  * come from a `SparkListener`; planning phases and executed-plan SQL
  * metrics from the query execution each SQL execution-end event carries
  * (what Spark hands a `QueryExecutionListener`). Everything stays in memory;
  * [[iterationReport]] folds one iteration into per-layer numbers. */
final class Tracer(spark: SparkSession) {
  private val sc = spark.sparkContext
  private var nextId = 1
  private var stack = List.empty[(Int, String, String, Long)]
  private val spans = mutable.ArrayBuffer.empty[Span]
  @volatile var enabled = false

  private final case class JobRec(id: Int, group: Option[Int], start: Long,
      var end: Long, stageIds: Seq[Int])
  private final class TaskAgg {
    var tasks = 0L; var runMs = 0L; var cpuNs = 0L; var shW = 0L; var shR = 0L
    var spill = 0L; var peakMem = 0L; var failures = 0L
  }
  private val jobs = mutable.Map.empty[Int, JobRec]
  private val stageJob = mutable.Map.empty[Int, Int]
  private val stageSpans = mutable.ArrayBuffer.empty[(Int, Long, Long)] // (stageId, start, end)
  private val taskAgg = new TaskAgg
  private val planning = mutable.ArrayBuffer.empty[(String, Long, Long)]
  private val sqlExec = mutable.Map.empty[Long, (Long, Boolean)] // id -> (start, isWrite)
  private val writeSpans = mutable.ArrayBuffer.empty[(Long, Long)]
  private var queries = 0L
  private val writeStats = mutable.Map.empty[String, Double].withDefaultValue(0.0)
  private var candidatePairs = 0L

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Tracer.this.synchronized {
      val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
        .filter(_.startsWith("span:")).map(_.drop(5).toInt)
      jobs(e.jobId) = JobRec(e.jobId, g, e.time * 1000, -1L, e.stageIds)
      e.stageIds.foreach(s => stageJob(s) = e.jobId)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Tracer.this.synchronized {
      jobs.get(e.jobId).foreach(_.end = e.time * 1000)
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      Tracer.this.synchronized {
        val i = e.stageInfo
        for (s <- i.submissionTime; c <- i.completionTime)
          stageSpans += ((i.stageId, s * 1000, c * 1000))
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Tracer.this.synchronized {
      val a = taskAgg
      a.tasks += 1
      if (e.reason != TaskSuccess) a.failures += 1
      val m = e.taskMetrics
      if (m != null) {
        a.runMs += m.executorRunTime
        a.cpuNs += m.executorCpuTime
        a.shW += m.shuffleWriteMetrics.bytesWritten
        a.shR += m.shuffleReadMetrics.totalBytesRead
        a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        a.peakMem = math.max(a.peakMem, m.peakExecutionMemory)
      }
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart => Tracer.this.synchronized {
        sqlExec(s.executionId) = (s.time * 1000, Plans.isWrite(s.physicalPlanDescription))
      }
      case s: SparkListenerSQLExecutionEnd => Tracer.this.synchronized {
        sqlExec.remove(s.executionId).foreach { case (start, isWrite) =>
          if (isWrite) writeSpans += ((start, s.time * 1000))
          SqlEvents.qe(s).foreach(qe => query(qe, (s.time * 1000 - start) * 1000))
        }
      }
      case _ =>
    }
  }

  /** Planning phases and executed-plan SQL metrics of one query. */
  private def query(qe: QueryExecution, durationNs: Long): Unit = {
    queries += 1
    val phases = qe.tracker.phases
    Seq("analysis", "optimization", "planning").foreach { ph =>
      phases.get(ph).foreach(p => planning += ((ph, p.startTimeMs * 1000, p.endTimeMs * 1000)))
    }
    def metric(p: SparkPlan, k: String): Long = p.metrics.get(k).map(_.value).getOrElse(0L)
    def walk(p: SparkPlan): Unit = {
      p match {
        case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
        case q: QueryStageExec => walk(q.plan)
        case c: CommandResultExec => walk(c.commandPhysicalPlan)
        case w: DataWritingCommandExec =>
          val m = w.cmd.metrics
          writeStats("bytes") += m.get("numOutputBytes").map(_.value).getOrElse(0L)
          writeStats("files") += m.get("numFiles").map(_.value).getOrElse(0L)
          writeStats("rows") += m.get("numOutputRows").map(_.value).getOrElse(0L)
          writeStats("ns") += durationNs
        case g: GenerateExec if g.generator.toString.contains("pairs") =>
          candidatePairs += metric(g, "numOutputRows")
        case _ =>
      }
      p.children.foreach(walk)
      p.subqueries.foreach(walk)
    }
    walk(qe.executedPlan)
  }

  def attach(): Unit = {
    sc.addSparkListener(listener)
    enabled = true
  }

  def detach(): Unit = {
    sc.removeSparkListener(listener)
    enabled = false
  }

  /** Run `body` as a span of `layer`; jobs it submits join its group. */
  def span[A](name: String, layer: String)(body: => A): A =
    if (!enabled) body
    else {
      val id = nextId; nextId += 1
      val parentGroup = stack.headOption.map(_._1)
      stack = (id, name, layer, Clock.nowUs()) :: stack
      sc.setJobGroup(s"span:$id", name)
      try body
      finally {
        val (_, n, l, t0) = stack.head
        stack = stack.tail
        spans += Span(id, n, l, parentGroup.getOrElse(0), t0, Clock.nowUs())
        parentGroup match {
          case Some(p) => sc.setJobGroup(s"span:$p", stack.head._2)
          case None => sc.clearJobGroup()
        }
      }
    }

  /** Fold everything recorded since the last call into one iteration's
    * per-layer report; call after the listener bus has drained. */
  def iterationReport(): Map[String, Double] = synchronized {
    val bench = spans.toSeq
    val root = bench.find(_.parent == 0)
      .getOrElse(sys.error("iterationReport: no iteration span recorded"))
    var synth = nextId + 1000000
    def fresh(): Int = { synth += 1; synth }
    // innermost benchmark span containing [s, e] (by interval)
    def container(s: Long, e: Long): Span =
      bench.filter(b => b.start <= s && e <= b.end + 2000).sortBy(_.dur).headOption.getOrElse(root)
    val ioSpans = writeSpans.toSeq.map { case (s, e) =>
      val c = container(s, e)
      // writes inside a TxTable or streaming call belong to that layer
      val layer = if (c.layer == "tx" || c.layer == "stream") "" else "io"
      (Span(fresh(), "write", layer, c.id, s, e), c)
    }.filter(_._1.layer.nonEmpty).map(_._1)
    val allBench = bench ++ ioSpans
    def innermost(s: Long, e: Long, cands: Seq[Span]): Int =
      cands.filter(b => b.start <= s && e <= b.end + 2000).sortBy(_.dur).headOption
        .map(_.id).getOrElse(root.id)
    val jobSpans = jobs.values.toSeq.filter(_.end > 0).map { j =>
      val byGroup = j.group.flatMap(g => allBench.find(_.id == g))
      // prefer a synthetic write span nested inside the group's span
      val parent = byGroup match {
        case Some(g) => ioSpans.find(w => w.parent == g.id && w.start <= j.start &&
          j.end <= w.end + 2000).map(_.id).getOrElse(g.id)
        case None => innermost(j.start, j.end, allBench)
      }
      j -> Span(fresh(), s"job${j.id}", "exec", parent, j.start, j.end)
    }
    val jobSpanById = jobSpans.map { case (j, s) => j.id -> s }.toMap
    val stageSpansT = stageSpans.toSeq.flatMap { case (sid, s, e) =>
      stageJob.get(sid).flatMap(jobSpanById.get).map(js =>
        Span(fresh(), s"stage$sid", "exec", js.id, s, e))
    }
    val planSpans = planning.toSeq.map { case (ph, s, e) =>
      Span(fresh(), ph, "plan", innermost(s, e, allBench), s, e)
    }
    val all = allBench ++ jobSpans.map(_._2) ++ stageSpansT ++ planSpans
    val children = all.groupBy(_.parent)

    def unionLen(iv: Seq[(Long, Long)]): Long = {
      var total = 0L; var curS = Long.MinValue; var curE = Long.MinValue
      iv.sortBy(_._1).foreach { case (s, e) =>
        if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
        else curE = math.max(curE, e)
      }
      if (curE > curS) total += curE - curS
      total
    }
    def self(sp: Span): Long = {
      val cs = children.getOrElse(sp.id, Nil).map(c =>
        (math.max(c.start, sp.start), math.min(c.end, sp.end))).filter(x => x._2 > x._1)
      math.max(0L, sp.dur - unionLen(cs))
    }
    val wall = root.dur.toDouble / 1e6
    val out = mutable.LinkedHashMap.empty[String, Double]
    val layers = Seq("bench", "pipeline", "io", "ops", "tx", "stream", "plan", "exec")
    layers.foreach { l =>
      val ls = all.filter(_.layer == l)
      out(s"self_s.$l") = ls.map(self).sum / 1e6
      val clipped = ls.map(s => (math.max(s.start, root.start), math.min(s.end, root.end)))
        .filter(x => x._2 > x._1)
      if (l != "bench") out(s"share.$l") = unionLen(clipped) / 1e6 / wall
    }
    // named spans
    bench.foreach { s =>
      val k = s.layer match {
        case "pipeline" => Some(s"pipeline.step_s.${s.name}")
        case "ops" => Some(s"ops.call_s.${s.name}")
        case "tx" if s.name.startsWith("commit.") => Some(s"tx.commit_s.${s.name.drop(7)}")
        case "tx" if s.name.startsWith("plan.") => Some("tx.read_plan_s")
        case "io" if s.name == "read" => Some("io.read_s")
        case _ => None
      }
      k.foreach(n => out(n) = out.getOrElse(n, 0.0) + s.dur / 1e6)
    }
    val steps = bench.filter(_.layer == "pipeline").map(_.dur).sum / 1e6
    if (bench.exists(_.layer == "pipeline")) out("pipeline.gap_s") = wall - steps
    out("io.write_s") = writeStats("ns") / 1e9
    out("io.bytes_written") = writeStats("bytes")
    out("io.files_written") = writeStats("files")
    out("io.rows_written") = writeStats("rows")
    out("ops.candidate_pairs") = candidatePairs.toDouble
    planning.groupBy(_._1).foreach { case (ph, xs) =>
      out(s"plan.${ph}_s") = xs.map(x => x._3 - x._2).sum / 1e6
    }
    out("plan.queries") = queries.toDouble
    val js = jobSpans.map(_._2)
    out("exec.jobs") = js.size.toDouble
    out("exec.stages") = stageSpansT.size.toDouble
    out("exec.tasks") = taskAgg.tasks.toDouble
    out("exec.task_s") = taskAgg.runMs / 1e3
    out("exec.cpu_s") = taskAgg.cpuNs / 1e9
    out("exec.slot_util") = taskAgg.runMs / 1e3 / (wall * Main.Cores)
    out("exec.driver_gap_s") = wall - unionLen(js.map(s =>
      (math.max(s.start, root.start), math.min(s.end, root.end))).filter(x => x._2 > x._1)) / 1e6
    out("exec.shuffle_write_bytes") = taskAgg.shW.toDouble
    out("exec.shuffle_read_bytes") = taskAgg.shR.toDouble
    out("exec.spill_bytes") = taskAgg.spill.toDouble
    out("exec.peak_exec_mem_bytes") = taskAgg.peakMem.toDouble
    out("exec.task_failures") = taskAgg.failures.toDouble
    reset()
    out.toMap
  }

  private def reset(): Unit = {
    spans.clear(); jobs.clear(); stageJob.clear(); stageSpans.clear()
    planning.clear(); sqlExec.clear(); writeSpans.clear(); writeStats.clear()
    queries = 0L; candidatePairs = 0L
    val a = taskAgg
    a.tasks = 0; a.runMs = 0; a.cpuNs = 0; a.shW = 0; a.shR = 0; a.spill = 0
    a.peakMem = 0; a.failures = 0
  }
}
