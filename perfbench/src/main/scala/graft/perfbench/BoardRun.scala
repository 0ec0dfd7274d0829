package graft.perfbench

import org.apache.spark.sql.SparkSession
import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

object BoardRun {
  /** Nominal seconds of one steady pass on a 4-core host; `--seconds`
    * buys whole passes, so equal arguments always measure equal work. */
  val NominalPassSeconds = 7.0

  /** At least two passes, so each query's latency is over two
    * executions; the untimed warm pass before them already takes out the
    * JIT warm-up that made the first timed execution an outlier. */
  val MinPasses = 2

  def passes(seconds: Int, traced: Boolean): Int = Stats.interleavedCount(
    math.max(MinPasses, math.round(seconds / NominalPassSeconds).toInt), traced)

  /** One timed query. */
  private final case class Sample(pass: Int, traced: Boolean, query: String, wallMs: Double,
                                  c: CounterSnapshot, idleMs: Long)
}

/** The board workload: a cold pass that checks every query's output,
  * then closed-loop steady passes, each over all of the board's queries
  * in a seeded order. */
final class BoardRun(spark: SparkSession, dataDir: String, queries: Seq[String],
                     families: Seq[String], seed: Long, seconds: Int,
                     expected: Map[String, (Long, String)], counters: Counters,
                     tracer: Tracer, streams: StreamTelemetry) {
  import BoardRun.Sample
  private var failed = 0L
  private var attempted = 0L
  private def check(ok: Boolean, what: => String): Unit = {
    attempted += 1
    if (!ok) { failed += 1; System.err.println(s"[perfbench] check failed: $what") }
  }

  /** Release cached blocks between queries, outside the timed region, so
    * every query starts from the same state. */
  private def hygiene(): Unit = {
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    System.gc()
  }

  private def order(pass: Int): Seq[String] =
    new scala.util.Random(seed * 7919 + pass).shuffle(queries)

  /** First touch of every query, also the content check: row count and
    * order-insensitive hash against the recorded values. */
  def coldPass(): Unit = order(-1).foreach { q =>
    streams.label("cold", q)
    try {
      val t0 = System.nanoTime()
      val got = Boards.contentHash(Boards.query(q)(spark, dataDir))
      System.err.println(f"[perfbench] cold $q%-28s ${(System.nanoTime() - t0) / 1e6}%9.1f ms")
      val want = expected.get(q)
      check(want.contains(got), s"$q: rows/hash $got, recorded $want")
    } catch {
      case NonFatal(e) => check(false, s"$q threw $e")
    } finally hygiene()
  }

  /** An untimed pass after the cold pass: the first `count()` of each
    * query after the cold pass still runs 1.3-1.6x slower than later ones
    * (JIT and codegen of the counting plan), and how much slower follows
    * the host, so it would make the steady figures noisy. Row counts are
    * checked as in the steady passes. */
  def warmPass(): Unit = order(-2).foreach { q =>
    streams.label("warm", q)
    try {
      val rows = Boards.query(q)(spark, dataDir).count()
      check(expected.get(q).exists(_._1 == rows), s"$q: $rows rows in the warm pass")
    } catch {
      case NonFatal(e) => check(false, s"$q threw $e in the warm pass")
    } finally hygiene()
  }

  def run(): RunOutput = {
    val samples = ArrayBuffer[Sample]()
    val passes = BoardRun.passes(seconds, tracer.enabled)
    var pass = 0
    while (pass < passes) {
      // a traced run interleaves untraced and traced passes; the untraced
      // passes carry the end-to-end numbers and the tracing overhead
      val traced = tracer.enabled && pass % 2 == 1
      order(pass).foreach { q =>
        streams.label(s"pass$pass", q)
        if (traced) tracer.newTrace()
        try {
          val c0 = counters.snapshot()
          val w0 = System.currentTimeMillis()
          val t0 = System.nanoTime()
          val rows =
            if (traced) tracer.span(Boards.family(q))(Boards.query(q)(spark, dataDir).count())
            else Boards.query(q)(spark, dataDir).count()
          val wall = (System.nanoTime() - t0) / 1e6
          val c = counters.snapshot().minus(c0)
          val idle = counters.idleMs(w0, System.currentTimeMillis())
          samples += Sample(pass, traced, q, wall, c, idle)
          System.err.println(f"[perfbench] pass $pass $q%-28s ${wall}%9.1f ms")
          check(expected.get(q).exists(_._1 == rows), s"$q: $rows rows in pass $pass")
        } catch {
          case NonFatal(e) => check(false, s"$q threw $e in pass $pass")
        } finally hygiene()
      }
      pass += 1
    }
    val (tracedSamples, plain) = samples.partition(_.traced)
    // the typical latency is over every untraced execution: a median of
    // them jumps with whichever query lands in the middle of the cluster
    // of sub-second ones. Throughput, CPU and the tail use each query's
    // median over the passes.
    def perQuery(ss: Seq[Sample], sel: Sample => Double): Map[String, Double] =
      ss.groupBy(_.query).map { case (q, xs) => q -> Stats.median(xs.map(sel).toSeq) }
    val wall = perQuery(plain.toSeq, _.wallMs)
    val cpu = perQuery(plain.toSeq, _.c.taskCpuS)
    val tail = Stats.tail(wall.values.toSeq)
    val boardWallS = wall.values.sum / 1e3
    val e2e = Map(
      "latency_geomean_ms" -> Stats.geomean(plain.map(_.wallMs).toSeq),
      "latency_tail_ms" -> tail.value,
      "throughput_per_s" -> wall.size / boardWallS,
      "cpu_ms_per_item" -> cpu.values.sum * 1e3 / wall.size)
    val info = Map("latency" -> "geomean over steady executions, tail over per-query medians",
      "p50_ms" -> f"${Stats.median(plain.map(_.wallMs).toSeq)}%.1f",
      "tail_percentile" -> f"${tail.percentile}%.1f", "samples" -> tail.samples.toString,
      "passes" -> pass.toString, "executions" -> plain.length.toString,
      "queries" -> queries.length.toString, "board_wall_s" -> f"$boardWallS%.3f")
    val perLayer = if (!tracer.enabled) Map.empty[String, Double] else {
      val tracedPasses = tracedSamples.map(_.pass).distinct.length.toDouble
      val byFamily = tracedSamples.groupBy(s => Boards.family(s.query))
      val fam = families.flatMap { f =>
        val ss = byFamily.getOrElse(f, ArrayBuffer())
        val c = ss.map(_.c).foldLeft(CounterSnapshot.zero)(_ plus _)
        Seq(s"$f.wall_s" -> ss.map(_.wallMs).sum / 1e3, s"$f.task_cpu_s" -> c.taskCpuS,
          s"$f.gc_s" -> c.gcMs / 1e3, s"$f.catalyst_ms" -> c.catalystMs.toDouble,
          s"$f.jobs" -> c.jobs.toDouble, s"$f.sched_gap_s" -> ss.map(_.idleMs).sum / 1e3,
          s"$f.shuffle_bytes" -> c.shuffleBytes.toDouble,
          s"$f.spill_bytes" -> c.spillBytes.toDouble)
          .map { case (k, v) => k -> v / tracedPasses }
      }.toMap
      val tracedLegs = tracedSamples.map(s => s"pass${s.pass}").toSet
      val prog = streams.all.filter(p => tracedLegs(p.leg))
      val stream = Map(
        "stream.batches" -> prog.length.toDouble,
        "stream.state_update_ms" -> prog.map(_.allUpdatesTimeMs).sum.toDouble,
        "stream.state_commit_ms" -> prog.map(_.commitTimeMs).sum.toDouble,
        "stream.planning_ms" -> prog.map(_.durationMs.getOrElse("queryPlanning", 0L)).sum
          .toDouble).map { case (k, v) => k -> v / tracedPasses }
      val passWall = samples.groupBy(_.pass).toSeq.sortBy(_._1)
        .map { case (_, ss) => (ss.map(_.wallMs).sum, ss.head.traced) }
      fam ++ stream ++ Map(
        "board.wall_s" -> boardWallS,
        "board.cpu_s" -> cpu.values.sum,
        "trace.overhead_pct" ->
          Stats.interleavedOverheadPct(passWall.map(_._1), passWall.map(_._2)))
    }
    RunOutput(attempted, failed, e2e, perLayer, info)
  }
}
