package graft

import graft.core.TxTable
import graft.streaming.EventsStream
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The row-level DML verbs of [[TxTable]]: how many Spark jobs each one
  * runs, and the rebase rule that decides whether a racing commit may
  * be absorbed or must fail with "rerun". */
class RowLevelSpec extends SparkSpec {

  private def rows(s: SparkSession, ids: Seq[Long]): DataFrame = {
    import s.implicits._
    ids.map(i => (i, s"name_$i", i * 10.0)).toDF("id", "name", "score")
  }

  /** Spark jobs `body` runs: jobs are counted by job group, so only
    * the calling thread's work (and the broadcast and stage jobs it
    * spawns) counts; the bus is drained before the count is read. */
  private def jobsOf(s: SparkSession)(body: => Any): Int = {
    val sc = s.sparkContext
    val group = s"rowlevel-${java.util.UUID.randomUUID()}"
    val n = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(
            _.getProperty("spark.jobGroup.id") == group)) {
          n.incrementAndGet(); ()
        }
    }
    org.apache.spark.graft.ListenerBusDrain(sc)
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "row-level job count")
      body
    } finally {
      sc.clearJobGroup()
      org.apache.spark.graft.ListenerBusDrain(sc)
      sc.removeSparkListener(listener)
    }
    n.get
  }

  /** Jobs per verb on small tables, as measured before the row-level
    * write paths were folded into one core. A change that moves one of
    * these numbers must say so. */
  private val pinnedJobs: Map[String, Int] = Map(
    "upsert" -> 15,
    "upsert (pinned source)" -> 17,
    "deleteKeys" -> 15,
    "updateWhere" -> 7,
    "replaceWhere" -> 10,
    "deleteWhere (deletion vectors)" -> 4,
    "updateWhere (deletion vectors)" -> 18,
    "upsert (deletion vectors)" -> 14,
    "upsert (flat, keys)" -> 22)

  test("Spark jobs per DML verb stay pinned") {
    // a fresh session: SQL confs other suites set cannot move the counts
    val s = spark.newSession()
    import s.implicits._
    val base = (0L until 200L)
    val measured = scala.collection.mutable.LinkedHashMap.empty[String, Int]

    val cow = TxTable(s, EventsStream.scratchDir("rl_jobs_cow") + "/t",
      changeDataFeed = true)
    cow.overwriteBucketed(rows(s, base), Seq("id"), 4)
    val staged = EventsStream.scratchDir("rl_jobs_src") + "/src"
    rows(s, Seq(1L, 2L, 300L)).write.parquet(staged)
    measured("upsert") = jobsOf(s)(cow.upsert(rows(s, Seq(3L, 4L, 5L, 301L))))
    measured("upsert (pinned source)") = jobsOf(s)(
      cow.upsert(s.read.parquet(staged), sourceIsPinned = true))
    measured("deleteKeys") = jobsOf(s)(cow.deleteKeys(Seq(6L, 7L).toDF("id")))
    measured("updateWhere") = jobsOf(s)(
      cow.updateWhere($"id" % 7 === 0, Map("score" -> ($"score" + 1))))
    measured("replaceWhere") = jobsOf(s)(cow.replaceWhere(
      rows(s, Seq(11L, 22L, 400L)).where($"id" % 11 === 0), $"id" % 11 === 0))

    val dv = TxTable(s, EventsStream.scratchDir("rl_jobs_dv") + "/t",
      changeDataFeed = true, deletionVectors = true)
    dv.overwrite(rows(s, base).repartitionByRange(2, $"id"))
    measured("deleteWhere (deletion vectors)") = jobsOf(s)(
      dv.deleteWhere($"id" % 13 === 0))
    measured("updateWhere (deletion vectors)") = jobsOf(s)(
      dv.updateWhere($"id" % 17 === 0, Map("score" -> ($"score" + 1))))

    val dvb = TxTable(s, EventsStream.scratchDir("rl_jobs_dvb") + "/t",
      changeDataFeed = true, deletionVectors = true)
    dvb.overwriteBucketed(rows(s, base), Seq("id"), 4)
    measured("upsert (deletion vectors)") = jobsOf(s)(
      dvb.upsert(rows(s, Seq(8L, 9L, 302L))))

    val flat = TxTable(s, EventsStream.scratchDir("rl_jobs_flat") + "/t",
      changeDataFeed = true)
    flat.overwrite(rows(s, base).repartitionByRange(2, $"id"))
    measured("upsert (flat, keys)") = jobsOf(s)(
      flat.upsert(rows(s, Seq(10L, 12L, 303L)), keys = Seq("id")))

    // the verbs did their work, so the counts describe real writes
    assert(cow.read().where($"id" % 11 === 0).count() == 2)
    assert(cow.read().where($"id" === 300L || $"id" === 301L).count() == 2)
    assert(dv.read().where($"id" % 13 === 0).count() == 0)
    assert(dvb.read().count() == 201)
    assert(flat.read().count() == 201)
    val report = measured.map { case (k, v) => s"$k=$v" }.mkString(", ")
    measured.foreach { case (verb, n) =>
      assert(n == pinnedJobs(verb),
        s"$verb ran $n Spark jobs, pinned ${pinnedJobs(verb)} ($report)")
    }
  }

  // ---- rebase against a racing deletion-vector delete -------------------

  private def upsertResolve(existing: DataFrame, src: DataFrame): DataFrame =
    existing.join(src.select("id").distinct(), Seq("id"), "left_anti")
      .unionByName(src)

  /** Merge `id = 1` into `t` while a second handle deletes `victim`
    * between the merge's planning and its write. Returns the merge's
    * failure, if any. */
  private def mergeRacingDelete(t: TxTable, dir: String, victim: Long,
      keys: Seq[String]): Option[Throwable] = {
    val s = spark
    import s.implicits._
    val other = TxTable(s, dir, deletionVectors = true)
    scala.util.Try(t.merge(Seq((1L, "merged", -1.0)).toDF("id", "name", "score"),
        keys = keys) { (existing, src) =>
      other.deleteWhere($"id" === victim)
      upsertResolve(existing, src)
    }).failed.toOption
  }

  private def messages(e: Throwable): String =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
      .map(x => String.valueOf(x.getMessage)).mkString(" / ")

  private def assertDeleteHolds(t: TxTable, victim: Long,
      failure: Option[Throwable]): Unit = failure match {
    case Some(e) => assert(messages(e).contains("rerun"), messages(e))
    case None => assert(t.read().where(col("id") === victim).count() == 0,
      s"row $victim, deleted by a racing commit, came back after the merge")
  }

  private def assertRebased(t: TxTable, victim: Long,
      failure: Option[Throwable]): Unit = {
    assert(failure.isEmpty, failure.map(messages).getOrElse(""))
    assert(t.read().where(col("id") === victim).count() == 0)
    assert(t.read().where(col("id") === 1L).select("name").head().getString(0) ==
      "merged")
    assert(t.read().count() == 39)
  }

  /** A bucketed deletion-vector table of ids 0..39 in 4 buckets, plus
    * one id sharing a bucket (so a file) with id 1 and one that does not. */
  private def bucketedDvTable(name: String): (TxTable, String, Long, Long) = {
    val s = spark
    import s.implicits._
    val dir = EventsStream.scratchDir(name) + "/t"
    val t = TxTable(s, dir, deletionVectors = true)
    t.overwriteBucketed(rows(s, 0L until 40L), Seq("id"), 4)
    val bucketOf = s.range(40).select($"id", pmod(hash($"id"), lit(4)))
      .as[(Long, Int)].collect().toMap
    val same = (2L until 40L).find(i => bucketOf(i) == bucketOf(1L)).get
    val other = (2L until 40L).find(i => bucketOf(i) != bucketOf(1L)).get
    (t, dir, same, other)
  }

  /** A flat deletion-vector table: ids 0..19 in one file, 20..39 in another. */
  private def flatDvTable(name: String): (TxTable, String) = {
    val dir = EventsStream.scratchDir(name) + "/t"
    val t = TxTable(spark, dir, deletionVectors = true)
    t.overwrite(rows(spark, 0L until 20L).coalesce(1))
    t.append(rows(spark, 20L until 40L).coalesce(1))
    assert(t.read().inputFiles.length == 2)
    (t, dir)
  }

  test("bucketed merge never resurrects a row a racing commit deleted from a file it rewrites") {
    val (t, dir, same, _) = bucketedDvTable("rl_race_bucket_same")
    assertDeleteHolds(t, same, mergeRacingDelete(t, dir, same, Nil))
  }

  test("bucketed merge auto-rebases over a racing delete in another file") {
    val (t, dir, _, other) = bucketedDvTable("rl_race_bucket_other")
    assertRebased(t, other, mergeRacingDelete(t, dir, other, Nil))
  }

  test("keyed merge on a flat table never resurrects a racing delete in a file it rewrites") {
    val (t, dir) = flatDvTable("rl_race_flat_same")
    assertDeleteHolds(t, 7L, mergeRacingDelete(t, dir, 7L, Seq("id")))
  }

  test("keyed merge on a flat table auto-rebases over a racing delete in another file") {
    val (t, dir) = flatDvTable("rl_race_flat_other")
    assertRebased(t, 25L, mergeRacingDelete(t, dir, 25L, Seq("id")))
  }
}
