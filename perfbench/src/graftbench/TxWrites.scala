package graftbench

import scala.collection.mutable

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.core.TxTable
import graft.streaming.EventsStream

/** The table layer, writes beside reads: a 16-bucket orders TxTable
  * (change feed on) takes upsert, deleteKeys, updateWhere and
  * replaceWhere on seeded key subsets; a deletion-vector copy takes
  * deleteWhere; an events TxTable is fed by
  * `EventsStream.runForeachBatchUpsertTx` (8 new files per iteration at
  * 2 per trigger = 4 microbatch commits). Every commit is followed by a
  * read-back aggregate; each iteration adds one time-travel read and one
  * change-feed read. History is kept for the whole run, so log replay and
  * the checkpoint cadence run many cycles. The expected state is a replay
  * of the same seeded operations on plain Scala maps; the final snapshots
  * and one time-travel version must equal it. */
final class TxWrites(seed: Long) extends Workload {
  val NOrders = 30000L
  val Buckets = 16
  val SliceEvents = 2000L
  val Users = 1000L
  val UpsertExisting = 400
  val UpsertNew = 200
  val DeleteKeys = 100

  private var dir = ""
  private var work = ""
  private var orders: TxTable = _
  private var dv: TxTable = _
  private def eventsDir = s"$dir/events"
  private def srcDir = s"$work/events_src"

  private val ordersExp = mutable.HashMap.empty[Long, (String, Double)]
  private val dvExp = mutable.HashMap.empty[Long, (String, Double)]
  private val eventsExp = mutable.HashMap.empty[Long, (Long, Long, Double)]
  private var travel: Option[(Long, Map[Long, (String, Double)])] = None

  // The verbs' sources are immutable parquet files staged off the clock,
  // so they are pinned (sourceIsPinned): re-evaluation reads the same rows.

  /** One iteration's seeded operations and the counts they must leave. */
  private final case class Plan(upsert: DataFrame, deleteKeys: DataFrame, updMod: Long,
      replace: DataFrame, replMod: Long, dvMod: Long, countAt0: Long, counts: Seq[Long],
      dvCount: Long, eventsCount: Long)
  private var plan: Plan = _
  private val userBytesByIter = mutable.Map.empty[Int, Long]
  private val seenVersion = mutable.Map.empty[String, Long]
  private var logBytes0 = 0L
  private var checkpoints0 = 0L

  private def ordersCols(df: DataFrame) = df.select("o_orderkey", "o_orderpriority", "o_totalprice")

  def setup(h: Harness, d: String): Unit = {
    work = h.work
    dir = d
    val spark = h.spark
    ordersCols(Inputs.orders(spark, seed, NOrders, NOrders / 10)).write.mode("overwrite")
      .parquet(s"$d/orders.parquet")
    val src = spark.read.parquet(s"$d/orders.parquet")
    orders = TxTable(spark, s"$d/orders", changeDataFeed = true)
    orders.overwriteBucketed(src, Seq("o_orderkey"), Buckets)
    dv = TxTable(spark, s"$d/orders_dv", deletionVectors = true)
    dv.overwrite(src.repartitionByRange(8, col("o_orderkey")))
  }

  override def afterSetup(h: Harness): Unit = {
    h.spark.read.parquet(s"$dir/orders.parquet").collect().foreach { r =>
      ordersExp(r.getLong(0)) = (r.getString(1), r.getDouble(2))
    }
    dvExp ++= ordersExp
    Files.rm(new java.io.File(srcDir))
    logBytes0 = logBytes; checkpoints0 = checkpoints
  }

  private def tables: Seq[(String, String)] =
    Seq("orders" -> s"$dir/orders", "dv" -> s"$dir/orders_dv", "events" -> eventsDir)

  override def prepare(h: Harness, i: Int): Unit = {
    val spark = h.spark
    import spark.implicits._
    val r = new scala.util.Random(seed * 1000003L + i)
    val countAt0 = ordersExp.size.toLong
    val hi = NOrders + i * UpsertNew
    val ups = (Seq.fill(UpsertExisting)(r.nextLong(NOrders)) ++ (0 until UpsertNew).map(hi + _))
      .distinct.map(k => (k, s"U${i % 5}", r.nextInt(40000000) / 100.0))
    val dels = Seq.fill(DeleteKeys)(r.nextLong(hi + UpsertNew)).distinct
    val updMod = r.nextInt(97).toLong
    val replMod = r.nextInt(89).toLong
    val repl = (replMod until NOrders by 89L).filter(_ % 3 == 0)
      .map(k => (k, s"R${i % 3}", (k % 1000) + 0.25))
    val dvMod = r.nextInt(101).toLong
    // replay on plain maps, in commit order
    val counts = mutable.ArrayBuffer.empty[Long]
    ups.foreach { case (k, p, v) => ordersExp(k) = (p, v) }
    counts += ordersExp.size
    if (i == 0) travel = Some((-1L, ordersExp.toMap))
    dels.foreach(ordersExp.remove)
    counts += ordersExp.size
    ordersExp.keys.filter(_ % 97 == updMod).toSeq.foreach { k =>
      val (p, v) = ordersExp(k); ordersExp(k) = (p, v + 1.0)
    }
    counts += ordersExp.size
    ordersExp.keys.filter(_ % 89 == replMod).toSeq.foreach(ordersExp.remove)
    repl.foreach { case (k, p, v) => ordersExp(k) = (p, v) }
    counts += ordersExp.size
    dvExp.keys.filter(_ % 101 == dvMod).toSeq.foreach(dvExp.remove)
    // the event slice: 8 new source files, replayed into the expected state
    val slice = Inputs.events(spark, seed, i, SliceEvents, Users).localCheckpoint(true)
    val srcBefore = Files.sizes(Seq(srcDir))
    slice.repartition(8).write.mode("append").parquet(srcDir)
    slice.collect().foreach { row =>
      val (eid, ts, user, v) = (row.getLong(0), row.getTimestamp(1), row.getLong(2), row.getDouble(3))
      val us = ts.getTime * 1000 + (ts.getNanos / 1000) % 1000
      if (eventsExp.get(user).forall { case (t0, e0, _) => us > t0 || (us == t0 && eid > e0) })
        eventsExp(user) = (us, eid, v)
    }
    slice.unpersist()
    // user data of this iteration, written once as plain parquet; the
    // verbs read their sources from it
    val u = s"$work/user/it$i"
    ups.toDF("o_orderkey", "o_orderpriority", "o_totalprice").write.parquet(s"$u/upsert")
    repl.toDF("o_orderkey", "o_orderpriority", "o_totalprice").write.parquet(s"$u/replace")
    val ub = Files.walk(u).filter(_.getName.endsWith(".parquet")).map(_.length).sum +
      (Files.sizes(Seq(srcDir)) -- srcBefore.keys).values.sum
    userBytesByIter(i) = ub
    val upsertDf = spark.read.parquet(s"$u/upsert")
    val replDf = spark.read.parquet(s"$u/replace")
    plan = Plan(upsertDf, dels.toDF("o_orderkey"), updMod, replDf, replMod, dvMod, countAt0,
      counts.toSeq, dvExp.size, eventsExp.size)
  }

  /** Snapshot read plus a content-digest aggregate; the row count is checked here,
    * the content against the replay after the run. */
  private def readBack(h: Harness, what: String, t: => TxTable, expected: Long): Unit = {
    val n = h.read("read", "tx")(Digest.of(h.call("plan.read", "tx")(t.read())))
      .split(":")(0).toLong
    h.check(n == expected, s"tx_writes $what: read back $n rows, expected $expected")
  }

  def iteration(h: Harness, i: Int): Unit = {
    val spark = h.spark
    val p = plan
    val v0 = orders.latestVersion.get
    val vUp = h.write("commit.upsert", "tx")(orders.upsert(p.upsert, sourceIsPinned = true))
    if (i == 0) travel = travel.map { case (_, m) => (vUp, m) }
    readBack(h, "upsert", orders, p.counts(0))
    h.write("commit.delete_keys", "tx")(orders.deleteKeys(p.deleteKeys, sourceIsPinned = true))
    readBack(h, "deleteKeys", orders, p.counts(1))
    h.write("commit.update_where", "tx")(orders.updateWhere(col("o_orderkey") % 97 === p.updMod,
      Map("o_totalprice" -> (col("o_totalprice") + 1.0))))
    readBack(h, "updateWhere", orders, p.counts(2))
    h.write("commit.replace_where", "tx")(
      orders.replaceWhere(p.replace, col("o_orderkey") % 89 === p.replMod))
    readBack(h, "replaceWhere", orders, p.counts(3))
    h.write("commit.delete_where", "tx")(dv.deleteWhere(col("o_orderkey") % 101 === p.dvMod))
    readBack(h, "deleteWhere", dv, p.dvCount)
    val nTravel = h.read("read", "tx")(
      Digest.of(h.call("plan.read_version", "tx")(orders.readVersion(v0)))).split(":")(0).toLong
    h.check(nTravel == p.countAt0, s"tx_writes time travel to v$v0: $nTravel rows, expected ${p.countAt0}")
    val changes = h.read("read", "tx") {
      h.call("plan.change_feed", "tx")(orders.changeFeed(v0))
        .groupBy(TxTable.ChangeTypeCol).count().collect()
    }
    h.check(changes.nonEmpty, s"tx_writes change feed since v$v0 is empty")
    val stream = spark.readStream
      .schema("event_id LONG, ts TIMESTAMP, user_id LONG, value DOUBLE")
      .option("maxFilesPerTrigger", 2)
      .parquet(srcDir)
    h.call("ingest", "stream")(EventsStream.runForeachBatchUpsertTx(spark, stream, eventsDir, Buckets))
    readBack(h, "events", TxTable(spark, eventsDir, statsOnWrite = false), p.eventsCount)
  }

  /** Log entries and checkpoints (not their checksum side files). */
  private def logFiles: Seq[java.io.File] =
    tables.flatMap { case (_, d) => Files.walk(s"$d/_graft_log") }.filterNot(_.getName.startsWith("."))
  private def logBytes: Long = logFiles.map(_.length).sum
  private def checkpoints: Long = logFiles.count(_.getName.contains(".checkpoint."))

  override def afterIteration(h: Harness, i: Int): Map[String, Double] = {
    if (i > 0) Files.rm(new java.io.File(s"$work/user/it${i - 1}"))
    var added = 0.0; var removed = 0.0; var bytes = 0.0
    tables.foreach { case (name, d) =>
      val hist = TxTable(h.spark, d).history().sortBy(_._1)
      val from = seenVersion.getOrElse(name, -1L)
      hist.sliding(2).foreach {
        case Seq((_, _, live0, _, _), (v, _, live, nAdd, bAdd)) if v > from =>
          added += nAdd; bytes += bAdd; removed += live0 + nAdd - live
        case _ =>
      }
      hist.headOption.filter(_._1 > from).foreach { case (_, _, _, nAdd, bAdd) =>
        added += nAdd; bytes += bAdd }
      hist.lastOption.foreach(x => seenVersion(name) = x._1)
    }
    val (lb, cp) = (logBytes, checkpoints)
    val out = Map("tx.files_added" -> added, "tx.files_removed" -> removed,
      "tx.bytes_added" -> bytes, "tx.log_bytes" -> (lb - logBytes0).toDouble,
      "tx.checkpoints" -> (cp - checkpoints0).toDouble)
    logBytes0 = lb; checkpoints0 = cp
    out
  }

  def storageDirs: Seq[String] = tables.map(_._2)
  def userBytes(i: Int): Long = userBytesByIter.getOrElse(i, 0L)
  def liveBytes(h: Harness): Long =
    Seq(orders, dv, TxTable(h.spark, eventsDir)).flatMap(_.read().inputFiles)
      .map(f => new java.io.File(new java.net.URI(f)).length).sum

  private def snapshot(df: DataFrame): Map[Long, (String, Double)] =
    df.select("o_orderkey", "o_orderpriority", "o_totalprice").collect()
      .map(r => r.getLong(0) -> (r.getString(1), r.getDouble(2))).toMap

  def finish(h: Harness): Unit = {
    val got0 = snapshot(orders.read())
    // self-check hook: drop one output row, so the snapshot check must fail
    val got = if (h.opts.dropRow) got0 - got0.keys.min else got0
    h.check(got == ordersExp.toMap, s"tx_writes orders snapshot differs from the replay " +
      s"(${got.size} vs ${ordersExp.size} rows)")
    h.check(snapshot(dv.read()) == dvExp.toMap, "tx_writes deletion-vector snapshot differs from the replay")
    travel.foreach { case (v, m) =>
      h.check(snapshot(orders.readVersion(v)) == m, s"tx_writes time travel to v$v differs from the replay")
    }
    val ev = TxTable(h.spark, eventsDir).read().collect().map { r =>
      val ts = r.getTimestamp(r.fieldIndex("last_ts"))
      r.getLong(r.fieldIndex("user_id")) -> (ts.getTime * 1000 + (ts.getNanos / 1000) % 1000,
        r.getLong(r.fieldIndex("last_event_id")), r.getDouble(r.fieldIndex("last_value")))
    }.toMap
    h.check(ev == eventsExp.toMap, s"tx_writes events state differs from the replay " +
      s"(${ev.size} vs ${eventsExp.size} users)")
  }

  def minWarm: Int = 1
  def inputs: Seq[(String, String)] = Seq("orders" -> s"$dir/orders.parquet")
  def writesFromListener: Boolean = false
}
