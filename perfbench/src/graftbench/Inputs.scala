package graftbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ops.Dedup

/** Seeded input generation. Every value is a hash of (seed, salt, row
  * key), so the same seed gives the same rows on any machine and a
  * different seed gives different rows, row order and file split. */
object Inputs {
  def h(seed: Long, salt: Int, cs: Column*): Column =
    xxhash64((lit(seed) +: lit(salt) +: cs): _*)
  def mod(seed: Long, salt: Int, m: Long, cs: Column*): Column = pmod(h(seed, salt, cs: _*), lit(m))
  /** Uniform in [0, 1) with 1e-6 resolution. */
  def u(seed: Long, salt: Int, cs: Column*): Column = mod(seed, salt, 1000000L, cs: _*) / 1e6
  def pick(seed: Long, salt: Int, xs: Seq[String], cs: Column*): Column =
    element_at(array(xs.map(lit): _*), (mod(seed, salt, xs.size, cs: _*) + 1).cast("int"))

  /** Write `df` as four parquet files, rows assigned to files and ordered
    * within them by a seeded hash. The file count is fixed so that input
    * bytes, and the ratios built on them, do not move with the seed. */
  def stage(df: DataFrame, path: String, seed: Long, salt: Int, key: Column): Unit =
    df.withColumn("__o", h(seed, salt + 1000, key))
      .repartition(4, col("__o")).sortWithinPartitions("__o").drop("__o")
      .write.mode("overwrite").parquet(path)

  /** The TPC-H-shaped star subset the graph pipeline reads: customer,
    * supplier, orders and lineitem at scale factor `sf` (sf 0.1 =
    * 15 k customers, 1 k suppliers, 150 k orders, about 600 k lineitems). */
  def tpch(spark: SparkSession, dir: String, seed: Long, sf: Double): Unit = {
    val nCust = (150000 * sf).toLong
    val nSupp = (10000 * sf).toLong
    val nOrd = (1500000 * sf).toLong
    val nPart = (200000 * sf).toLong
    val id = col("id")
    val cust = spark.range(nCust).select(id.as("c_custkey"),
      concat(lit("Customer#"), lpad(id.cast("string"), 9, "0")).as("c_name"),
      mod(seed, 1, 25, id).cast("int").as("c_nationkey"),
      round(u(seed, 2, id) * 11000 - 1000, 2).as("c_acctbal"),
      pick(seed, 3, Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"), id)
        .as("c_mktsegment"))
    stage(cust, s"$dir/customer.parquet", seed, 10, col("c_custkey"))
    val supp = spark.range(nSupp).select(id.as("s_suppkey"),
      concat(lit("Supplier#"), lpad(id.cast("string"), 9, "0")).as("s_name"),
      mod(seed, 4, 25, id).cast("int").as("s_nationkey"),
      round(u(seed, 5, id) * 11000 - 1000, 2).as("s_acctbal"))
    stage(supp, s"$dir/supplier.parquet", seed, 20, col("s_suppkey"))
    stage(orders(spark, seed, nOrd, nCust), s"$dir/orders.parquet", seed, 30, col("o_orderkey"))
    val ln = col("l_linenumber")
    val li = spark.range(nOrd)
      .select(id.as("l_orderkey"),
        explode(sequence(lit(1), (mod(seed, 12, 7, id) + 1).cast("int"))).as("l_linenumber"))
      .select(col("l_orderkey"),
        mod(seed, 13, nPart, col("l_orderkey"), ln).as("l_partkey"),
        mod(seed, 14, nSupp, col("l_orderkey"), ln).as("l_suppkey"),
        ln,
        (mod(seed, 15, 50, col("l_orderkey"), ln) + 1).cast("double").as("l_quantity"),
        round(u(seed, 16, col("l_orderkey"), ln) * 100000 + 900, 2).as("l_extendedprice"),
        (mod(seed, 17, 11, col("l_orderkey"), ln) / 100.0).as("l_discount"),
        (mod(seed, 18, 9, col("l_orderkey"), ln) / 100.0).as("l_tax"),
        pick(seed, 19, Seq("A", "N", "R"), col("l_orderkey"), ln).as("l_returnflag"),
        pick(seed, 20, Seq("F", "O"), col("l_orderkey"), ln).as("l_linestatus"),
        timestamp_seconds(lit(694224000L) + mod(seed, 21, 2557, col("l_orderkey"), ln) * 86400)
          .as("l_shipdate"))
    stage(li, s"$dir/lineitem.parquet", seed, 40, concat_ws("/", col("l_orderkey"), ln))
  }

  def orders(spark: SparkSession, seed: Long, nOrd: Long, nCust: Long): DataFrame = {
    val id = col("id")
    spark.range(nOrd).select(id.as("o_orderkey"),
      mod(seed, 6, nCust, id).as("o_custkey"),
      pick(seed, 7, Seq("F", "O", "P"), id).as("o_orderstatus"),
      round(u(seed, 8, id) * 400000 + 1000, 2).as("o_totalprice"),
      timestamp_seconds(lit(694224000L) + mod(seed, 9, 2400, id) * 86400).as("o_orderdate"),
      pick(seed, 11, Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"), id)
        .as("o_orderpriority"))
  }

  val Vocab: Seq[String] = ("a the data spark table query row column scan sort hash join " +
    "group filter window stream batch merge key value part line order small big fast " +
    "slow agg vector customer index shard cache page block file log commit plan task " +
    "stage job node edge graph rank core peel token text doc corpus shingle band bucket " +
    "pair").split(" ").toSeq

  /** The three-word boilerplate appended to a seeded share of documents,
    * unsuffixed in every replica. Of 256 candidate phrases it is the one
    * whose shingle hash sorts first, so it leads every carrier's sorted
    * shingle set: it is in every carrier's Jaccard prefix, its posting
    * list is longer than the df cap, and it adds no other common shingle
    * (the two shingles across the join differ per document). */
  def boilerplate(spark: SparkSession): String = {
    import spark.implicits._
    (0 until 256).map(i => s"cookie policy v$i").toDF("text")
      .select(col("text"), Dedup.hashedShingles(col("text"), 3).getItem(0).as("h"))
      .orderBy("h").head().getString(0)
  }

  /** Documents whose id % PlantEvery == 1 are near-duplicate variants of
    * the document before them (0 to 3 word substitutions). */
  val PlantEvery = 10

  /** The output-linear near-duplicate corpus, built the way
    * `graft.tools.MakeScaled ... linear` builds it: a seeded base corpus
    * of `nDocs` documents and `nVecs` 64-d embeddings, replicated
    * `replicas` times through similarity-breaking bijections (token
    * suffixes; per-replica sign flips), so true pairs grow linearly. */
  def corpus(spark: SparkSession, dir: String, seed: Long, nDocs: Long, nVecs: Long,
      replicas: Int, boilerplatePct: Int): Unit = {
    val id = col("id")
    val vocab = array(Vocab.map(lit): _*)
    def words(key: Column) = transform(sequence(lit(0),
      (mod(seed, 50, 60, key) + 29).cast("int")),
      j => element_at(vocab, (pmod(h(seed, 51, key, j), lit(Vocab.size.toLong)) + 1).cast("int")))
    // planted variant: the previous document's words with 0..3 of them
    // substituted at seeded positions
    val planted = (id % PlantEvery) === 1
    val src = id - 1
    val edits = mod(seed, 52, 4, id).cast("int")
    val variant = transform(words(src), (w, j) =>
      when(j < edits * 3 && pmod(h(seed, 53, id, j), lit(3L)) === 0,
        element_at(vocab, (pmod(h(seed, 54, id, j), lit(Vocab.size.toLong)) + 1).cast("int")))
        .otherwise(w))
    val base = spark.range(nDocs).select(id.as("doc_id"),
      when(planted, variant).otherwise(words(id)).as("w"),
      pick(seed, 55, Seq("en", "de", "fr", "es", "zh"), id).as("lang"),
      concat(lit("src"), (id % 7).cast("string")).as("source"))
    val reps = (0 until replicas).map { r =>
      val w = if (r == 0) col("w") else transform(col("w"), t => concat(t, lit(s"_r$r")))
      base.select((col("doc_id") + lit(r * 10000000L)).as("doc_id"), array_join(w, " ").as("text"),
        col("lang"), col("source"))
    }.reduce(_ unionAll _)
    // planted pairs never carry the boilerplate: the df cap only promises
    // recall for pairs that share a key below the cap
    val bpText = boilerplate(spark)
    val bp = (col("doc_id") % PlantEvery >= 2) &&
      mod(seed, 56, 100, col("doc_id")) < boilerplatePct
    val docs = reps.select(col("doc_id"),
      when(bp, concat(col("text"), lit(" " + bpText))).otherwise(col("text")).as("text"),
      col("lang"), col("source"))
      .withColumn("n_chars", length(col("text")).cast("long"))
    stage(docs, s"$dir/documents.parquet", seed, 60, col("doc_id"))
    // embeddings: every 20th vector (id % 20 == 1) is a near twin of
    // the one before it
    def vec(key: Column, salt: Int) = transform(sequence(lit(0), lit(63)),
      j => (u(seed, salt, key, j) - 0.5).cast("float"))
    val twin = (id % 20) === 1
    val baseE = spark.range(nVecs).select(id.as("vec_id"),
      when(twin, zip_with(vec(id - 1, 70), vec(id, 71), (a, b) => (a + b * 0.01).cast("float")))
        .otherwise(vec(id, 70)).as("embedding"),
      mod(seed, 72, 10, id).cast("int").as("label"))
    val emb = (0 until replicas).map { r =>
      if (r == 0) baseE
      else baseE.select((col("vec_id") + lit(r * 10000000L)).as("vec_id"),
        transform(col("embedding"), (x, j) =>
          when(pmod(xxhash64(lit(r), j), lit(2)) === 1, -x).otherwise(x).cast("float"))
          .as("embedding"), col("label"))
    }.reduce(_ unionAll _)
    stage(emb, s"$dir/embeddings.parquet", seed, 80, col("vec_id"))
  }

  /** One seeded slice of events (event_id, ts, user_id, value). */
  def events(spark: SparkSession, seed: Long, slice: Int, n: Long, users: Long): DataFrame = {
    val id = col("id") + lit(slice.toLong * n)
    spark.range(n).select(id.as("event_id"),
      timestamp_micros(lit(1704067200000000L) + id * 1000000L +
        mod(seed, 90, 999999, id)).as("ts"),
      mod(seed, 91, users, id).as("user_id"),
      round(u(seed, 92, id) * 1000, 2).as("value"))
  }
}
