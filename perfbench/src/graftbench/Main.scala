package graftbench

import java.io.File
import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** One workload of the benchmark: a fixed unit of work (an iteration)
  * driven in a closed loop against the engine's public functions. */
trait Workload {
  /** Generate and stage the seeded inputs under `dir` and build any
    * pre-built tables. Runs several times (set-up time is a median);
    * the last run's state is the one the iterations use. */
  def setup(h: Harness, dir: String): Unit
  /** Off-the-clock work after set-up (expected-state capture). */
  def afterSetup(h: Harness): Unit = ()
  /** Off-the-clock input staging for iteration `i`. */
  def prepare(h: Harness, i: Int): Unit = ()
  def iteration(h: Harness, i: Int): Unit
  /** Off-the-clock bookkeeping after iteration `i` (per-layer extras). */
  def afterIteration(h: Harness, i: Int): Map[String, Double] = Map.empty
  /** Directories whose new bytes count as storage writes. */
  def storageDirs: Seq[String]
  /** Bytes of the user data iteration `i` commits, as plain parquet. */
  def userBytes(i: Int): Long
  /** Bytes of the live snapshots (denominator of space_amp). */
  def liveBytes(h: Harness): Long
  /** Final output checks, off the clock. */
  def finish(h: Harness): Unit
  /** Whether the write-command durations seen by the listener are this
    * workload's durable writes (asset writes through the IO manager). */
  def writesFromListener: Boolean
  /** Warm iterations a run makes at least, even past --seconds. */
  def minWarm: Int
  /** Parquet inputs (table name -> path) whose digest identifies the seed's inputs. */
  def inputs: Seq[(String, String)]
}

final case class Opts(workload: String, seed: Long, seconds: Int, trace: Boolean,
    work: String, launchedMs: Long, dropRow: Boolean)

final case class Sample(iter: Int, kind: String, traced: Boolean, wallS: Double,
    startMs: Long, endMs: Long, stealPct: Double, load1: Double, gcS: Double,
    writes: Seq[Double], reads: Seq[Double], storageBytes: Long, userBytes: Long,
    layers: Map[String, Double], ok: Boolean) {
  def contaminated: Boolean = stealPct > 5.0 || load1 > Main.Cores + 2
}

/** What the workloads see: timed calls, checks, counters, the session. */
final class Harness(val spark: SparkSession, val opts: Opts, val tracer: Tracer) {
  val work: String = opts.work
  var attempted = 0L
  var failed = 0L
  val errors = mutable.ArrayBuffer.empty[String]
  private[graftbench] val curWrites = mutable.ArrayBuffer.empty[Double]
  private[graftbench] val curReads = mutable.ArrayBuffer.empty[Double]
  private[graftbench] val counts = mutable.Map.empty[String, Double].withDefaultValue(0.0)
  val oracle = mutable.LinkedHashMap.empty[String, String]
  /** The `observe()` metric totals of the iteration that just ended. */
  var observed = Map.empty[String, Double]

  private def timed[A](name: String, layer: String, into: Option[mutable.ArrayBuffer[Double]])(
      body: => A): A = {
    attempted += 1
    val t0 = System.nanoTime()
    val r = tracer.span(name, layer)(body)
    into.foreach(_ += (System.nanoTime() - t0) / 1e9)
    r
  }

  /** A call into a layer (a pipeline step, an operator, a plan call). */
  def call[A](name: String, layer: String)(body: => A): A = timed(name, layer, None)(body)
  /** A durable write call: its latency joins write_p50_s. */
  def write[A](name: String, layer: String)(body: => A): A = timed(name, layer, Some(curWrites))(body)
  /** A read-back (read plus its aggregate): joins read_p50_s. */
  def read[A](name: String, layer: String)(body: => A): A = timed(name, layer, Some(curReads))(body)
  /** A write latency measured elsewhere (a microbatch commit). */
  def recordWrite(seconds: Double): Unit = { attempted += 1; curWrites += seconds }
  def count(name: String, v: Double): Unit = counts(name) += v

  /** An output check: a mismatch is a failed operation. */
  def check(ok: Boolean, what: => String): Unit = {
    attempted += 1
    if (!ok) { failed += 1; errors += what; System.err.println(s"[perfbench] CHECK FAILED: $what") }
  }
}

/** Host and JVM readings taken around every sample. */
object Host {
  def cpu(): (Long, Long) = {
    val f = scala.io.Source.fromFile("/proc/stat")
    try {
      val xs = f.getLines().next().trim.split("\\s+").drop(1).map(_.toLong)
      (xs.take(8).sum, if (xs.length > 7) xs(7) else 0L)
    } finally f.close()
  }
  def load1(): Double = {
    val f = scala.io.Source.fromFile("/proc/loadavg")
    try f.getLines().next().split(" ")(0).toDouble finally f.close()
  }
  /** CPU seconds this JVM has used, all threads. */
  def cpuS(): Double = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime / 1e9
  def gcS(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum / 1e3
  def vmHwmMb(): Double = {
    val f = scala.io.Source.fromFile("/proc/self/status")
    try f.getLines().find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024)
      .getOrElse(0.0)
    finally f.close()
  }
  private def heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP)
  def heapPeakMb(): Double = heapPools.map(_.getPeakUsage.getUsed).sum / 1048576.0
  def resetHeapPeak(): Unit = heapPools.foreach(_.resetPeakUsage())
}

object Files {
  def walk(dir: String): Seq[File] = {
    val out = mutable.ArrayBuffer.empty[File]
    def go(f: File): Unit =
      if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty).foreach(go)
      else if (f.isFile) out += f
    go(new File(dir))
    out.toSeq
  }
  def sizes(dirs: Seq[String]): Map[String, Long] =
    dirs.flatMap(walk).map(f => f.getPath -> f.length).toMap
  def bytes(dir: String): Long = walk(dir).map(_.length).sum
  def rm(f: File): Unit = {
    Option(f.listFiles()).getOrElse(Array.empty).foreach(rm)
    f.delete(); ()
  }
}

object Main {
  val Cores = 4
  /** Set-ups per run; set-up time is their median. */
  val SetupReps = 3

  def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Opts(m("workload"), m("seed").toLong, m("seconds").toInt, m("trace") == "1",
      m("work"), m("launched-ms").toLong, m.get("drop-row").contains("1"))
  }

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted; val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }

  def workload(name: String, seed: Long): Workload = name match {
    case "graph_assets" => new GraphAssets(seed)
    case "corpus_dedup" => new CorpusDedup(seed)
    case "tx_writes" => new TxWrites(seed)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    val wl = workload(o.workload, o.seed)
    new File(o.work).mkdirs()
    val spark = graft.core.Sessions.builder(s"local[$Cores]", Cores)
      .config("spark.local.dir", s"${o.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${o.work}/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.currentTimeMillis() - o.launchedMs) / 1e3
    val t00 = System.nanoTime()
    def log(what: String): Unit =
      System.err.println(f"[perfbench] ${(System.nanoTime() - t00) / 1e9}%7.2fs $what")
    log(f"session ready after $sessionS%.2fs")
    val tracer = new Tracer(spark)
    val h = new Harness(spark, o, tracer)
    val counters = new Counters(spark)
    var exitCode = 0
    try {
      val setupTimes = (0 until SetupReps).map { r =>
        val t0 = System.nanoTime()
        wl.setup(h, s"${o.work}/setup$r")
        val s = (System.nanoTime() - t0) / 1e9
        if (r > 0) Files.rm(new File(s"${o.work}/setup${r - 1}"))
        log(f"setup $r took $s%.2fs")
        s
      }
      wl.afterSetup(h)
      val inputDigest = wl.inputs.map { case (n, p) =>
        val files = Files.walk(p).count(f => f.getName.endsWith(".parquet") && !f.getName.startsWith("."))
        s"$n:$files:${Digest.of(spark.read.parquet(p))}"
      }.mkString(" ")
      log("after-setup done")
      counters.attach()
      val samples = mutable.ArrayBuffer.empty[Sample]
      var aborted = false
      def runOne(i: Int, traced: Boolean): Unit = {
        wl.prepare(h, i)
        System.gc()
        log(s"iteration $i prepared")
        val before = Files.sizes(wl.storageDirs)
        h.curWrites.clear(); h.curReads.clear(); h.counts.clear()
        Host.resetHeapPeak()
        val (tot0, st0) = Host.cpu(); val gc0 = Host.gcS(); val cpu0 = Host.cpuS()
        if (traced) tracer.attach()
        val startMs = System.currentTimeMillis()
        val t0 = System.nanoTime()
        val ok = try { tracer.span("iteration", "bench")(wl.iteration(h, i)); true }
        catch { case e: Throwable =>
          h.attempted += 1; h.failed += 1
          h.errors += s"iteration $i: $e"
          System.err.println(s"[perfbench] iteration $i failed: $e")
          e.printStackTrace()
          false
        }
        val wall = (System.nanoTime() - t0) / 1e9
        val endMs = System.currentTimeMillis()
        org.apache.spark.graftbench.Bus.drain(spark.sparkContext)
        val (tot1, st1) = Host.cpu(); val gc1 = Host.gcS(); val cpu1 = Host.cpuS()
        val heapPeak = Host.heapPeakMb()
        val report = if (traced) { val r = tracer.iterationReport(); tracer.detach(); r }
          else Map.empty[String, Double]
        val (observed, progress, listenerWrites) = counters.take()
        if (wl.writesFromListener) h.curWrites ++= listenerWrites
        progress.foreach { case (d, _) => h.recordWrite(d("addBatch") / 1e3) }
        h.observed = observed
        val extras = if (ok) wl.afterIteration(h, i) else Map.empty[String, Double]
        val after = Files.sizes(wl.storageDirs)
        val written = after.iterator.map { case (p, n) =>
          if (before.get(p).contains(n)) 0L else n }.sum
        val stream = mutable.Map.empty[String, Double]
        if (progress.nonEmpty) {
          stream("stream.batches") = progress.size.toDouble
          progress.flatMap(_._1.keys).distinct.foreach { k =>
            stream(s"stream.batch_s.$k") = progress.map(_._1.getOrElse(k, 0L)).sum / 1e3
          }
          stream("stream.state_rows") = progress.last._2.toDouble
        }
        val layers = report ++ extras ++ stream ++ h.counts ++
          observed.map { case (k, v) => s"ops.observed.$k" -> v } ++ Map(
            "jvm.gc_s" -> (gc1 - gc0), "jvm.heap_peak_mb" -> heapPeak)
        val steal = if (tot1 > tot0) 100.0 * (st1 - st0) / (tot1 - tot0) else 0.0
        val s = Sample(i, if (i == 0) "cold" else "warm", traced, wall, startMs, endMs,
          steal, Host.load1(), gc1 - gc0, h.curWrites.toSeq, h.curReads.toSeq,
          written, wl.userBytes(i), layers, ok)
        samples += s
        println("sample " + Json.obj(Seq("iter" -> i, "kind" -> s.kind, "traced" -> traced,
          "wall_s" -> wall, "cpu_s" -> (cpu1 - cpu0), "start_ms" -> startMs, "end_ms" -> endMs,
          "steal_pct" -> s.stealPct, "load1" -> s.load1, "gc_s" -> s.gcS,
          "writes" -> s.writes.size, "reads" -> s.reads.size,
          "contaminated" -> s.contaminated)))
        if (!ok) aborted = true
        log(f"iteration $i took $wall%.2fs")
      }
      runOne(0, o.trace)
      val deadline = System.nanoTime() + o.seconds * 1000000000L
      var i = 1
      // traced runs interleave untraced and traced warm iterations in
      // U T T U blocks, so the tracing overhead is measured inside one run
      // and JIT warm-up favours neither side
      val minWarm = if (o.trace) 4 * ((wl.minWarm + 1) / 2) else wl.minWarm
      while (!aborted && (System.nanoTime() < deadline || (i - 1) < minWarm)) {
        runOne(i, o.trace && (i % 4 == 2 || i % 4 == 3))
        i += 1
      }
      val spaceAmp = if (aborted) 0.0 else spaceAmpNow(wl, h)
      counters.detach()
      if (!aborted) wl.finish(h)
      log("finish done")

      val warm = samples.toSeq.filter(s => s.kind == "warm" && s.ok)
      val plainWarm = warm.filter(!_.traced)
      val e2e = Map(
        "setup_s" -> (sessionS + median(setupTimes)),
        "cold_iter_s" -> samples.head.wallS,
        "iter_s" -> median(plainWarm.map(_.wallS)),
        "write_p50_s" -> median(plainWarm.flatMap(_.writes)),
        "read_p50_s" -> median(plainWarm.flatMap(_.reads)),
        "write_amp" -> plainWarm.map(_.storageBytes).sum.toDouble /
          math.max(1L, plainWarm.map(_.userBytes).sum),
        "space_amp" -> spaceAmp,
        "peak_rss_mb" -> Host.vmHwmMb())
      val tracedWarm = warm.filter(_.traced)
      val keys = tracedWarm.flatMap(_.layers.keys).distinct
      val layer = mutable.LinkedHashMap.empty[String, Double]
      keys.sorted.foreach { k => layer(k) = median(tracedWarm.map(_.layers.getOrElse(k, 0.0))) }
      layer("host.steal_pct") = median(tracedWarm.map(_.stealPct))
      layer("host.load1") = median(tracedWarm.map(_.load1))
      val ops = Seq("ngram_jaccard", "minhash_lsh", "srp_neardup")
      val pairs = ops.map(k => layer.getOrElse(s"ops.pairs_out.$k", 0.0)).sum
      val cand = layer.getOrElse("ops.candidate_pairs", 0.0)
      layer("ops.pair_yield") = if (cand > 0) pairs / cand else 0.0
      layer("share.jvm") = median(tracedWarm.map(s => s.gcS / s.wallS))
      layer("trace.iter_s_traced") = median(tracedWarm.map(_.wallS))
      layer("trace.iter_s_untraced") = median(plainWarm.map(_.wallS))
      layer("trace.overhead_s") = layer("trace.iter_s_traced") - layer("trace.iter_s_untraced")
      val contaminated = samples.count(_.contaminated)
      val out = Json.obj(Seq(
        "correct" -> (h.failed == 0 && !aborted),
        "attempted" -> h.attempted, "failed" -> h.failed,
        "iterations" -> samples.size, "contaminated_samples" -> contaminated,
        "input_digest" -> inputDigest,
        "e2e" -> Json.raw(Json.obj(e2e.toSeq)),
        "per_layer" -> Json.raw(Json.obj(layer.toSeq)),
        "oracle" -> Json.raw(Json.obj(h.oracle.toSeq)),
        "errors" -> Json.raw(h.errors.map(Json.str).mkString("[", ",", "]"))))
      val f = new java.io.PrintWriter(s"${o.work}/result.json")
      try f.println(out) finally f.close()
    } catch {
      case e: Throwable =>
        e.printStackTrace()
        exitCode = 1
    } finally {
      spark.stop()
    }
    sys.exit(exitCode)
  }

  private def spaceAmpNow(wl: Workload, h: Harness): Double = {
    val live = wl.liveBytes(h)
    if (live <= 0) 0.0 else wl.storageDirs.map(Files.bytes).sum.toDouble / live
  }
}

object Json {
  final case class Raw(s: String)
  def raw(s: String): Raw = Raw(s)
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"; case '\r' => "\\r"
      case '\t' => "\\t"; case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""
  def value(v: Any): String = v match {
    case Raw(s) => s
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case other => str(other.toString)
  }
  def obj(kv: Seq[(String, Any)]): String =
    kv.map { case (k, v) => str(k) + ":" + value(v) }.mkString("{", ",", "}")
}
