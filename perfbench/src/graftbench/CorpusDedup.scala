package graftbench

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.core.ParquetIOManager
import graft.ops.{Dedup, Similarity}
import graft.steps.CleanCorpus

/** The LLM-data cleaning path on an output-linear corpus: CleanCorpus,
  * exact n-gram Jaccard pairs, MinHash-LSH pairs -> clusters -> canonical
  * documents, SRP near-duplicate vectors, and one write of the deduped
  * corpus. Checks: every planted pair at or above the threshold (true
  * Jaccard computed here, in plain Scala) is in the n-gram pair output,
  * no planted pair below it is, the df-cap counter is above zero, and the
  * outputs are identical across iterations. */
final class CorpusDedup(seed: Long) extends Workload {
  val BaseDocs = 1000L
  val BaseVecs = 500L
  val Replicas = 2
  val BoilerplatePct = 80
  /** The n-gram df cap, sized to this corpus as the default 5000 is to a
    * production one, so the boilerplate shingle exceeds it. */
  val DfCap = 500
  /** SRP runs on the first replica's vectors (gate c8 bounds it too). */
  val SrpBound = 500L
  val Threshold = 0.8
  val CosThreshold = 0.9

  private var dir = ""
  private var work = ""
  private var inputBytes = 0L
  private var docs: DataFrame = _
  private var emb: DataFrame = _
  private var plantedJ = Seq.empty[((Long, Long), Double)]
  private var twinCos = Seq.empty[((Long, Long), Double)]
  private var first = Map.empty[String, String]
  private val CapMetric = s"graft_c4_hot_shingles_gt$DfCap"

  def setup(h: Harness, d: String): Unit = {
    work = h.work
    dir = d
    Inputs.corpus(h.spark, d, seed, BaseDocs, BaseVecs, Replicas, BoilerplatePct)
    inputBytes = Files.bytes(d)
  }

  override def afterSetup(h: Harness): Unit = {
    docs = h.spark.read.parquet(s"$dir/documents.parquet")
    emb = h.spark.read.parquet(s"$dir/embeddings.parquet")
    // ground truth for the planted document pairs, in plain Scala
    val texts = docs.where(col("doc_id") % Inputs.PlantEvery < 2)
      .select("doc_id", "text").collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    def shingles(t: String): Set[String] = t.split(" ").sliding(3).filter(_.length == 3)
      .map(_.mkString(" ")).toSet
    plantedJ = texts.keys.filter(_ % Inputs.PlantEvery == 1).toSeq.sorted.flatMap { b =>
      texts.get(b - 1).map { at =>
        val (x, y) = (shingles(at), shingles(texts(b)))
        ((b - 1, b), (x intersect y).size.toDouble / (x union y).size)
      }
    }
    val vecs = emb.where(col("vec_id") < SrpBound && col("vec_id") % 20 < 2)
      .collect().map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble)).toMap
    twinCos = vecs.keys.filter(_ % 20 == 1).toSeq.sorted.flatMap { b =>
      vecs.get(b - 1).map { a =>
        val v = vecs(b)
        val dot = a.zip(v).map { case (p, q) => p * q }.sum
        ((b - 1, b), dot / math.sqrt(a.map(x => x * x).sum * v.map(x => x * x).sum))
      }
    }
  }

  private def pairSet(rows: Array[Row]): Set[(Long, Long)] =
    rows.map(r => (r.getLong(0), r.getLong(1))).toSet

  def iteration(h: Harness, i: Int): Unit = {
    val spark = h.spark
    val io = new ParquetIOManager(spark)
    val clean = h.call("clean_corpus", "ops")(CleanCorpus.run(docs).localCheckpoint(true))
    val out = s"$work/out/deduped"
    h.write("write", "io")(io.write(clean, out))
    clean.unpersist()
    val back = h.read("read", "io")(Digest.of(io.read(out)))

    val ngram = h.call("ngram_jaccard", "ops")(
      Dedup.ngramJaccardPairs(docs, threshold = Threshold, maxDocFreq = Some(DfCap)).collect())
    val mh = h.call("minhash_lsh", "ops")(
      Dedup.minHashLshPairs(docs, threshold = Threshold).collect())
    val mhDf = spark.createDataFrame(java.util.Arrays.asList(mh: _*), StructType(Seq(
      StructField("doc_a", LongType), StructField("doc_b", LongType),
      StructField("jaccard", DoubleType))))
    val clusters = h.call("dup_clusters", "ops")(Dedup.dupClusters(mhDf).localCheckpoint(true))
    val canon = h.call("canonical_docs", "ops")(Dedup.canonicalDocs(clusters, docs).collect())
    clusters.unpersist()
    val bounded = emb.where(col("vec_id") < SrpBound)
    val srp = h.call("srp_neardup", "ops")(
      Similarity.srpNearDupPairs(bounded, threshold = CosThreshold).collect())
    h.count("ops.pairs_out.ngram_jaccard", ngram.length)
    h.count("ops.pairs_out.minhash_lsh", mh.length)
    h.count("ops.pairs_out.srp_neardup", srp.length)

    // checks
    val ngramDropped = if (h.opts.dropRow) ngram.sortBy(r => (r.getLong(0), r.getLong(1)))
      .filterNot(r => (r.getLong(0), r.getLong(1)) == plantedJ.filter(_._2 >= Threshold + 1e-6)
        .head._1) else ngram
    val ng = pairSet(ngramDropped)
    plantedJ.foreach { case (p, j) =>
      if (j >= Threshold + 1e-6) h.check(ng(p), s"corpus_dedup planted pair $p (J=$j) missing")
      else if (j < Threshold - 1e-6) h.check(!ng(p), s"corpus_dedup pair $p (J=$j) below threshold emitted")
    }
    h.check(plantedJ.count(_._2 >= Threshold + 1e-6) > 0, "corpus_dedup has no planted pair above threshold")
    h.check(mh.forall(_.getDouble(2) >= Threshold), "corpus_dedup minhash pair below threshold")
    val sp = pairSet(srp)
    twinCos.foreach { case (p, c) =>
      if (c >= CosThreshold + 1e-3) h.check(sp(p), s"corpus_dedup twin vectors $p (cos=$c) missing")
    }
    val digest = Map("deduped" -> back,
      "ngram" -> ng.toSeq.sorted.hashCode.toString,
      "minhash" -> pairSet(mh).toSeq.sorted.hashCode.toString,
      "canonical" -> canon.map(_.toString).sorted.mkString(";"),
      "srp" -> sp.toSeq.sorted.hashCode.toString)
    if (i == 0) first = digest
    else digest.foreach { case (k, v) =>
      h.check(first(k) == v, s"corpus_dedup $k output differs from iteration 0: " +
        s"${first(k).take(300)} vs ${v.take(300)}")
    }
  }

  override def afterIteration(h: Harness, i: Int): Map[String, Double] = {
    val capped = h.observed.getOrElse(s"$CapMetric.dropped_buckets", 0.0)
    h.check(capped > 0, s"corpus_dedup df-cap counter $CapMetric reads $capped")
    Map.empty
  }

  def storageDirs: Seq[String] = Seq(s"$work/out")
  def userBytes(i: Int): Long = inputBytes
  def liveBytes(h: Harness): Long = Files.walk(s"$work/out/deduped")
    .filter(f => f.getName.endsWith(".parquet") && !f.getName.startsWith(".")).map(_.length).sum
  def minWarm: Int = 2
  def inputs: Seq[(String, String)] =
    Seq("documents", "embeddings").map(t => t -> s"$dir/$t.parquet")
  def writesFromListener: Boolean = false

  def finish(h: Harness): Unit = ()
}
