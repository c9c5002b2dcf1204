package graftbench

import java.io.File

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.core._
import graft.steps.{GraphOps, GraphPipeline}

/** The paper's own job: nodes -> edges -> graph -> graph_aggr through
  * `PipelineRunner` and `ParquetIOManager`, plus three analytic assets
  * off `edges` (k-core peel, PageRank, triangle census). Each iteration
  * materializes every asset into a fresh state dir, then reads each one
  * back with a digest aggregate. Digests must agree across iterations;
  * the last iteration's g2/g4/g5/g6-shaped outputs go to the DuckDB
  * oracles after the run. */
final class GraphAssets(seed: Long) extends Workload {
  val Sf = 0.01
  private var inputDir = ""
  private var work = ""
  private var digests0 = Map.empty[String, String]
  private var inputBytes = 0L
  private var lastIter = 0

  val Assets = Seq("nodes", "edges", "graph", "graph_aggr", "kcore", "pagerank", "triangles")

  private def stateDir(i: Int) = s"$work/state/it$i"

  def setup(h: Harness, dir: String): Unit = {
    work = h.work
    inputDir = dir
    Inputs.tpch(h.spark, dir, seed, Sf)
    inputBytes = Files.walk(dir).filter(f => f.getName.endsWith(".parquet") &&
      !f.getName.startsWith(".")).map(_.length).sum
  }

  /** Packed long ids (customer 2k, supplier 2k+1), as gates g4/g5 spell them. */
  private def packed(edges: DataFrame): DataFrame =
    edges.select((col("custkey").cast("long") * 2).as("src"),
      (col("suppkey").cast("long") * 2 + 1).as("dst"))
  private def label(df: DataFrame): DataFrame =
    df.select(when(col("node_id") % 2 === 0, concat(lit("c"), expr("node_id div 2")))
      .otherwise(concat(lit("s"), expr("(node_id - 1) div 2"))).as("node_id") +:
      df.columns.filter(_ != "node_id").map(col).toSeq: _*)

  /** An analytic asset computed off `edges`. */
  private final class Analytic(val name: String)(f: DataFrame => DataFrame) extends PipelineStep {
    override val deps = Seq("edges")
    def execute(ctx: RunContext): StepResult = {
      val out = f(ctx.io.read(ctx.paths.assetPath("edges")))
      StepResult(Map("rows" -> ctx.io.write(out, ctx.paths.assetPath(name)).rowCount.toString))
    }
  }

  /** A program step wrapped in a benchmark span of the pipeline layer. */
  private final class Traced(inner: PipelineStep, h: Harness) extends PipelineStep {
    val name: String = inner.name
    override val deps: Seq[String] = inner.deps
    def execute(ctx: RunContext): StepResult = h.call(name, "pipeline")(inner.execute(ctx))
  }

  def iteration(h: Harness, i: Int): Unit = {
    val spark = h.spark
    val paths = PathResolver(ExecutionMode.SmallDevSampleLocal, localStateDir = stateDir(i))
    val io = new ParquetIOManager(spark)
    val ctx = RunContext(spark, ExecutionMode.SmallDevSampleLocal, Engine.Local, None, paths, io)
    val steps = Seq(
      new GraphPipeline.NodesStep(inputDir), new GraphPipeline.EdgesStep(inputDir),
      new GraphPipeline.GraphStep, new GraphPipeline.GraphAggrStep,
      new Analytic("kcore")(e => label(GraphOps.kCorePeel(packed(e), k = 10, rounds = 6))),
      new Analytic("pagerank")(e => label(GraphOps.pageRank(packed(e), iters = 5))),
      new Analytic("triangles")(e => h.call("triangle_census", "ops") {
        GraphOps.triangleCensus(e.select(col("custkey").as("left"), col("suppkey").as("right")))
      })
    ).map(s => new Traced(s, h))
    val reports = new PipelineRunner(steps).run(ctx)
    reports.foreach(r => h.check(r.ok, s"graph_assets step ${r.step}: ${r.error.getOrElse("")}"))
    h.check(reports.size == Assets.size, s"graph_assets ran ${reports.size} of ${Assets.size} steps")
    // read every asset back with a content digest
    val digests = Assets.map { a =>
      a -> h.read("read", "io")(Digest.of(io.read(paths.assetPath(a))))
    }.toMap
    if (i == 0) digests0 = digests
    else Assets.foreach(a => h.check(digests(a) == digests0(a),
      s"graph_assets $a digest ${digests(a)} differs from iteration 0 (${digests0(a)})"))
    h.check(digests("graph_aggr").split(":")(0).toLong > 0, "graph_aggr is empty")
  }

  override def afterIteration(h: Harness, i: Int): Map[String, Double] = {
    // keep only the newest state dir on disk
    if (i > 0) Files.rm(new File(stateDir(i - 1)))
    lastIter = i
    Map.empty
  }

  def storageDirs: Seq[String] = Seq(s"$work/state")
  def userBytes(i: Int): Long = inputBytes
  def liveBytes(h: Harness): Long = Files.walk(stateDir(lastIter))
    .filter(f => f.getName.endsWith(".parquet") && !f.getName.startsWith(".")).map(_.length).sum
  def minWarm: Int = 2
  def inputs: Seq[(String, String)] =
    Seq("customer", "supplier", "orders", "lineitem").map(t => t -> s"$inputDir/$t.parquet")
  def writesFromListener: Boolean = true

  def finish(h: Harness): Unit = {
    val spark = h.spark
    val paths = PathResolver(ExecutionMode.SmallDevSampleLocal, localStateDir = stateDir(lastIter))
    val out = s"$work/oracle"
    val gates = Seq("g2_graph_aggr" -> "graph_aggr", "g4_kcore" -> "kcore",
      "g5_pagerank" -> "pagerank", "g6_triangles" -> "triangles")
    gates.foreach { case (g, a) =>
      val df = spark.read.parquet(paths.assetPath(a))
      // self-check hook: drop one output row, so the oracle check must fail
      val rows = if (h.opts.dropRow && g == "g2_graph_aggr") df.orderBy(df.columns.map(col): _*)
        .limit(math.max(0, df.count().toInt - 1)) else df
      rows.coalesce(1).write.mode("overwrite").parquet(s"$out/$g")
      h.oracle(g) = graft.SparkEntry.oracleSql(g)
    }
    h.oracle("__inputs") = inputDir
    h.oracle("__outputs") = out
  }
}

/** Order-insensitive content digest: row count and a bounded sum of row hashes. */
object Digest {
  def of(df: DataFrame): String = {
    val r = df.agg(count(lit(1)), sum(pmod(xxhash64(df.columns.map(col): _*), lit(1000000007L))))
      .head()
    s"${r.getLong(0)}:${if (r.isNullAt(1)) 0L else r.getLong(1)}"
  }
}
