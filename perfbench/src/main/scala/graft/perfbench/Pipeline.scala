package graft.perfbench

import graft.cdc.{CdcFixtures, Envelope}
import graft.scd2.{ChangeFeedRollup, Scd2Job, VersionedTable, Partitioning}
import graft.streaming.Streams
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

/** The reference's CDC lane run as one closed-loop pipeline: per batch,
  * envelope → bronze staging → current-state upsert → SCD2 run →
  * change-feed gold rollup → acceptance reads. */
object Pipeline {
  /** The reference generator's insert batch (SURVEY §6). */
  val BatchSize = 500
  /** The key space of the engine's own events/s floor test
    * (`ThroughputSpec`: `randomStream(nKeys = 500)`). */
  val Keys = 500
  /** Nominal seconds of one measured batch on a 4-core host; `--seconds`
    * buys whole batches, so equal arguments always measure equal work. */
  val NominalBatchSeconds = 7.0
  /** At least three measured batches: a fourth adds about 9 s to every
    * run, which the run-time budget of the benchmark does not have. */
  val MinBatches = 3
  /** The warm-up: two small batches, one creating the tables and one
    * merging into them. Codegen and class loading depend on the code
    * paths, not on the row count. */
  val WarmBatches = 2
  val WarmEvents = 100
  val AuditKeys = 3
  /** Unparseable envelopes `CdcFixtures.withNoise` adds to every batch. */
  val CdcNoiseRows = 4

  /** The table roots of one pipeline instance. */
  final class Lane(spark: SparkSession, root: String) {
    val staging = s"$root/staging"
    val current = new Streams.CurrentStateTable(spark, s"$root/current", mor = true)
    val job = new Scd2Job(spark, staging, s"$root/scd2", s"$root/scd2_ck", mor = true)
    val gold = new VersionedTable(spark, s"$root/gold", Partitioning.Unpartitioned)
    val roots: Seq[String] = Seq(staging, s"$root/current", s"$root/scd2", s"$root/scd2_ck",
      s"$root/gold")
    /** Roots of the versioned tables (the staging dir is plain parquet). */
    val tableRoots: Seq[String] = roots.tail
  }

  def stream(seed: Long, batches: Int): Seq[Seq[CdcFixtures.CdcOp]] =
    CdcFixtures.randomStream(seed, Keys, BatchSize * batches).grouped(BatchSize).toSeq

  def filesUnder(root: String): Seq[java.io.File] = {
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) Option(f.listFiles).toSeq.flatten.flatMap(walk) else Seq(f)
    walk(new java.io.File(root))
  }

  /** Per-category sums, counts, newest lsn and a content digest of the
    * current-state table: the acceptance rollup, the gold recompute and
    * the time-travel comparison in one aggregation. */
  private def rollup(df: DataFrame): Array[Row] = {
    val cols = df.columns.map(c => df.col(s"`$c`"))
    df.groupBy(col("category")).agg(sum("price").as("sum_v"), count(lit(1)).as("n_rows"),
      max("lsn").as("max_lsn"), sum(xxhash64(cols: _*).cast("decimal(20,0)")).as("digest"))
      .collect()
  }

  private final case class TableState(versions: Long, files: Long, bytes: Long)

  /** Per-step counters of one traced batch. */
  final case class StepSample(ms: Double, c: CounterSnapshot)
}

final class Pipeline(spark: SparkSession, work: String, seed: Long, seconds: Int,
                     counters: Counters, tracer: Tracer) {
  import Pipeline._
  import spark.implicits._

  private var failed = 0L
  private var attempted = 0L
  private def check(ok: Boolean, what: => String): Unit = {
    attempted += 1
    if (!ok) { failed += 1; System.err.println(s"[perfbench] check failed: $what") }
  }

  private def rawFrame(ops: Seq[CdcFixtures.CdcOp], noiseSeed: Long): DataFrame =
    CdcFixtures.withNoise(ops.map(CdcFixtures.toJson), noiseSeed).toDF("raw_message")

  /** Steps 1-4 of one batch; returns the `Scd2Job.run()` count. */
  private def write(lane: Lane, raw: DataFrame, step: (String, => Unit) => Unit): Long = {
    var n = 0L
    step("cdc", Envelope.toBronze(Envelope.flatten(raw))
      .write.mode("append").partitionBy("dt").parquet(lane.staging))
    step("current", lane.current.upsert(Streams.currentProjection(Envelope.flatten(raw))))
    step("scd2_job", { n = lane.job.run() })
    step("rollup", ChangeFeedRollup.applyOnce(spark, lane.current.table, lane.gold,
      "gold", "id", "category", "price"): Unit)
    n
  }

  /** Untimed warm-up: a few batches through a scratch lane, so the
    * measured batches do not pay codegen and class loading. */
  def warm(): Unit = {
    val t0 = System.nanoTime()
    val lane = new Lane(spark, s"$work/warm")
    CdcFixtures.randomStream(seed + 7919, Keys, WarmBatches * WarmEvents).grouped(WarmEvents)
      .zipWithIndex.foreach { case (ops, i) =>
        write(lane, rawFrame(ops, i), (_, body) => body)
        rollup(lane.current.read())
        lane.current.table.currentHead.filter(_ > 0)
          .foreach(v => rollup(lane.current.table.readVersion(v - 1)))
        lane.job.table.readForKeys(ops.flatMap(_.after).map(_.id).take(AuditKeys).toDF("id"))
          .collect()
        lane.gold.read().collect()
      }
    System.err.println(f"[perfbench] warm-up ${(System.nanoTime() - t0) / 1e6}%.0f ms")
  }

  def run(): RunOutput = {
    val nBatches = Stats.interleavedCount(
      math.max(MinBatches, math.round(seconds / NominalBatchSeconds).toInt), tracer.enabled)
    val batches = stream(seed, nBatches)
    val model = CdcModel.expect(batches.map(CdcModel.fromOps))
    val lane = new Lane(spark, s"$work/lane")
    val fresh = ArrayBuffer[Double]()      // ms per batch, untraced batches
    val freshTraced = ArrayBuffer[Double]()
    val batchWalls = ArrayBuffer[(Double, Boolean)]()
    val cpuS = ArrayBuffer[Double]()
    val accept = ArrayBuffer[Double]()     // ms per acceptance read
    val steps = scala.collection.mutable.Map[String, ArrayBuffer[StepSample]]()
    val layer = scala.collection.mutable.Map[String, Double]().withDefaultValue(0.0)
    var headRollup = Map[Int, Set[String]]()
    var prevHead: Option[Int] = None
    var events = 0L
    val rnd = new scala.util.Random(seed)

    batches.zipWithIndex.foreach { case (ops, k) =>
      // a traced run interleaves untraced and traced batches; the
      // untraced ones measure the tracing overhead
      val traced = tracer.enabled && k % 2 == 1
      def step(name: String, body: => Unit): Unit =
        if (!traced) body
        else {
          val c0 = counters.snapshot()
          val t0 = System.nanoTime()
          tracer.span(name)(body)
          val ms = (System.nanoTime() - t0) / 1e6
          steps.getOrElseUpdate(name, ArrayBuffer()) += StepSample(ms, counters.snapshot().minus(c0))
        }
      def read[T](name: String)(body: => T): T = {
        val t0 = System.nanoTime()
        val r = if (traced) tracer.span(name)(body) else body
        val ms = (System.nanoTime() - t0) / 1e6
        accept += ms
        if (traced) layer(s"$name.sum_ms") += ms
        r
      }
      tracer.newTrace()
      val vt0 = if (traced) Some(tableState(lane)) else None
      try {
        val c0 = counters.snapshot()
        val tGen = System.nanoTime()
        val raw = rawFrame(ops, seed * 1000 + k)
        if (traced) layer("cdc.rows_in") += ops.length + CdcNoiseRows
        var n = 0L
        var roll: Array[Row] = Array.empty
        var hist: Array[Row] = Array.empty
        var tt: Option[Array[Row]] = None
        var gold: Array[Row] = Array.empty
        val expect = model(k)
        val applied = expect.appliedEvents
        val auditIds = rnd.shuffle(applied.filter(_.op != "d").map(_.id).distinct)
          .take(AuditKeys)
        val auditTs = auditIds.map(id => id -> applied.filter(e => e.id == id && e.op != "d")
          .map(_.tsSec).max).toMap
        def batch(body: => Unit): Unit = if (traced) tracer.span("batch")(body) else body
        batch {
          n = write(lane, raw, step)
          step("acceptance", {
            roll = read("acceptance.current")(rollup(lane.current.read()))
            hist = read("acceptance.history")(lane.job.table
              .readForKeys(auditIds.toDF("id")).select("id", "effective_start_ts").collect())
            tt = prevHead.map(v => read("acceptance.time_travel")(
              rollup(lane.current.table.readVersion(v))))
            gold = read("acceptance.gold")(lane.gold.read().collect())
          })
        }
        val ms = (System.nanoTime() - tGen) / 1e6
        cpuS += counters.snapshot().minus(c0).taskCpuS
        if (traced) freshTraced += ms else fresh += ms
        batchWalls += ((ms, traced))
        System.err.println(f"[perfbench] batch $k%3d ${ms}%9.1f ms, run() = $n")
        events += ops.length
        // output checks, outside the timed region
        check(n == expect.applied, s"batch $k: Scd2Job.run() = $n, model ${expect.applied}")
        layer("scd2_job.rows_applied") += (if (traced) n else 0)
        layer("scd2_job.rows_skipped") += (if (traced) expect.skipped else 0)
        val maxLsn = roll.flatMap(r => Option(r.getAs[Any]("max_lsn"))).map(_.toString.toLong)
          .maxOption
        check(maxLsn.contains(ops.map(_.lsn).max), s"batch $k: current state lacks the batch")
        val histSet = hist.map(r => (r.getInt(0), r.getTimestamp(1).getTime / 1000)).toSet
        check(auditTs.forall(histSet.contains), s"batch $k: audit trail lacks the batch")
        // deleted keys keep a row with a null category and price
        def group(r: Row) = (Option(r.getString(0)), Option(r.getAs[Any](1)).map(_.toString),
          r.getAs[Any](2).toString.toLong)
        val want = roll.map(group).filter(_._3 > 0).toSet
        val got = gold.map(group).toSet
        check(got == want, s"batch $k: gold differs from the current-state recompute")
        layer("current.rows") = want.toSeq.map(_._3).sum.toDouble
        tt.foreach(r => check(prevHead.flatMap(headRollup.get).contains(r.map(_.toString).toSet),
          s"batch $k: time travel to v${prevHead.get} differs from its head digest"))
        val head = lane.current.table.currentHead
        head.foreach(v => headRollup += v -> roll.map(_.toString).toSet)
        prevHead = head
      } catch {
        case NonFatal(e) =>
          attempted += 1; failed += 1
          System.err.println(s"[perfbench] batch $k failed: $e")
      }
      vt0.foreach { before =>
        val after = tableState(lane)
        layer("vt.commits") += after.versions - before.versions
        layer("vt.files_written") += after.files - before.files
        layer("vt.bytes_written") += after.bytes - before.bytes
        layer("scd2_job.bronze_files") = filesUnder(lane.staging)
          .count(f => f.getName.endsWith(".parquet")).toDouble
      }
    }
    // the SCD2 table holds exactly one current row per live id
    try {
      val cur = lane.job.table.read().filter(col("is_current"))
        .groupBy("id").count().collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
      check(cur.values.forall(_ == 1L) && cur.keySet == model.last.live,
        s"SCD2 current rows: ${cur.size} ids, model ${model.last.live.size}")
    } catch { case NonFatal(e) => attempted += 1; failed += 1; System.err.println(e) }

    val storage = lane.roots.flatMap(filesUnder).map(_.length).sum.toDouble
    val all = fresh.toSeq
    val tail = Stats.tail(all)
    val e2e = Map(
      "latency_geomean_ms" -> Stats.geomean(all),
      "latency_tail_ms" -> tail.value,
      "throughput_per_s" -> events / ((fresh.sum + freshTraced.sum) / 1e3),
      "cpu_ms_per_item" -> cpuS.sum * 1e3 / events)
    val info = Map("latency" -> "freshness per batch", "p50_ms" -> f"${Stats.median(all)}%.1f",
      "tail_percentile" -> f"${tail.percentile}%.1f", "samples" -> tail.samples.toString,
      "batches" -> batches.length.toString, "events" -> events.toString)
    val perLayer = if (!tracer.enabled) Map.empty[String, Double] else {
      val tracedBatches = math.max(1, freshTraced.length).toDouble
      val stepMetrics = steps.toSeq.flatMap { case (name, ss) =>
        val c = ss.map(_.c).foldLeft(CounterSnapshot.zero)(_ plus _)
        Seq(s"$name.ms" -> ss.map(_.ms).sum / tracedBatches,
          s"$name.task_cpu_s" -> c.taskCpuS / tracedBatches,
          s"$name.jobs" -> c.jobs / tracedBatches)
      }.toMap
      val head = lane.current.table.currentHead
      val deltas = Seq(lane.current.table, lane.job.table).map { t =>
        t.currentHead.map(v => t.manifestDetail(v).count(_._3 == "x")).getOrElse(0)
      }.sum
      val scd2Files = lane.job.table.zonePrunedFileCount("id", 1000, 1000 + Keys / 10)
      val accMs = (n: String) => layer(s"acceptance.$n.sum_ms") / tracedBatches
      val self = tracer.selfMsByName
      stepMetrics ++ Map(
        "cdc.rows_in" -> layer("cdc.rows_in") / tracedBatches,
        "cdc.rows_out" -> steps.get("cdc").map(_.map(_.c.recordsWritten).sum).getOrElse(0L)
          / tracedBatches,
        "current.rows" -> layer("current.rows"),
        "rollup.span_rows" -> head.map(_ => spanRows(lane)).getOrElse(0.0),
        "scd2_job.rows_applied" -> layer("scd2_job.rows_applied") / tracedBatches,
        "scd2_job.rows_skipped" -> layer("scd2_job.rows_skipped") / tracedBatches,
        "scd2_job.bronze_files" -> layer("scd2_job.bronze_files"),
        "vt.commits" -> layer("vt.commits") / tracedBatches,
        "vt.files_written" -> layer("vt.files_written") / tracedBatches,
        "vt.bytes_written" -> layer("vt.bytes_written") / tracedBatches,
        "vt.delta_files_live" -> deltas.toDouble,
        "acceptance.current_ms" -> accMs("current"),
        "acceptance.history_ms" -> accMs("history"),
        "acceptance.time_travel_ms" -> accMs("time_travel"),
        "acceptance.gold_ms" -> accMs("gold"),
        "acceptance.files_read_frac" -> scd2Files._1.toDouble / math.max(1, scd2Files._2),
        "pipeline.acceptance_p50_ms" -> Stats.median(accept.toSeq),
        "pipeline.storage_bytes_per_event" -> storage / events,
        "trace.overhead_pct" ->
          Stats.interleavedOverheadPct(batchWalls.map(_._1).toSeq, batchWalls.map(_._2).toSeq)) ++
        Seq("batch", "cdc", "current", "scd2_job", "rollup", "acceptance")
          .map(n => s"self.$n" + "_ms" -> self.getOrElse(n, 0.0) / tracedBatches)
    }
    RunOutput(attempted, failed, e2e, perLayer, info)
  }

  private def tableState(lane: Lane): TableState = {
    val files = lane.tableRoots.flatMap(filesUnder).filter(f =>
      f.getName.endsWith(".parquet"))
    val versions = Seq(lane.current.table, lane.job.table, lane.gold)
      .flatMap(t => scala.util.Try(t.latestVersion).toOption.flatten).map(_ + 1L).sum
    TableState(versions, files.length, files.map(_.length).sum)
  }

  /** Rows inserted by the last current-state commit: the span the gold
    * rollup consumed in the final batch. */
  private def spanRows(lane: Lane): Double = {
    val t = lane.current.table
    val head = t.currentHead.get
    if (head == 0) 0.0 else t.changesBetween(head - 1, head)._1.count().toDouble
  }
}

/** What one workload run reports. */
final case class RunOutput(attempted: Long, failed: Long, e2e: Map[String, Double],
                           perLayer: Map[String, Double], info: Map[String, String])
