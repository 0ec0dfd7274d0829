package graft.perfbench

import graft.GraftSession
import java.nio.file.{Files, Paths}

/** Benchmark entry point, launched by `perfbench/run.py`:
  *
  *   --workload board|cdc_pipeline  --seed N  --seconds S
  *   --trace 0|1  --data DIR  --work DIR  --expected FILE  --t0-ms EPOCH_MS
  *
  * `--t0-ms` is when the launcher spawned this JVM, so `setup_s` covers
  * JVM start, session, table warm-up, the cold pass and the board's warm
  * pass or the pipeline's warm-up batches. The last stdout line is
  * `PERFBENCH_RESULT {json}`. */
object Main {
  /** Every per-layer metric with its unit, in the order BENCHMARK.json
    * lists them. */
  val perLayer: Seq[(String, String)] =
    Boards.families.flatMap(f =>
      Seq("wall_s" -> "s", "task_cpu_s" -> "s", "gc_s" -> "s", "catalyst_ms" -> "ms",
        "jobs" -> "count", "sched_gap_s" -> "s", "shuffle_bytes" -> "bytes",
        "spill_bytes" -> "bytes").map { case (m, u) => s"$f.$m" -> u }) ++ Seq(
      "stream.batches" -> "count", "stream.state_update_ms" -> "ms",
      "stream.state_commit_ms" -> "ms", "stream.planning_ms" -> "ms",
      "session.job_floor_ms" -> "ms",
      "cdc.ms" -> "ms", "cdc.rows_in" -> "count", "cdc.rows_out" -> "count",
      "current.ms" -> "ms", "current.rows" -> "count",
      "scd2_job.ms" -> "ms", "scd2_job.task_cpu_s" -> "s", "scd2_job.jobs" -> "count",
      "scd2_job.rows_applied" -> "count", "scd2_job.rows_skipped" -> "count",
      "scd2_job.bronze_files" -> "count", "rollup.ms" -> "ms", "rollup.span_rows" -> "count",
      "vt.commits" -> "count", "vt.files_written" -> "count", "vt.bytes_written" -> "bytes",
      "vt.delta_files_live" -> "count",
      "acceptance.current_ms" -> "ms", "acceptance.history_ms" -> "ms",
      "acceptance.time_travel_ms" -> "ms", "acceptance.gold_ms" -> "ms",
      "acceptance.files_read_frac" -> "fraction",
      "board.wall_s" -> "s", "board.cpu_s" -> "s", "pipeline.acceptance_p50_ms" -> "ms",
      "pipeline.storage_bytes_per_event" -> "bytes/event", "trace.overhead_pct" -> "%",
      "self.batch_ms" -> "ms", "self.cdc_ms" -> "ms", "self.current_ms" -> "ms",
      "self.scd2_job_ms" -> "ms", "self.rollup_ms" -> "ms", "self.acceptance_ms" -> "ms")

  val endToEnd: Seq[(String, String)] = Seq("setup_s" -> "s", "latency_geomean_ms" -> "ms",
    "latency_tail_ms" -> "ms", "throughput_per_s" -> "1/s", "cpu_ms_per_item" -> "ms")

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val spark = GraftSession.build("graft-perfbench")
    System.err.println(
      s"[perfbench] session ready at ${(System.currentTimeMillis() - opts("t0-ms").toLong) / 1e3} s")
    try measure(spark, opts, opts("data"))
    finally spark.stop()
  }

  private def measure(spark: org.apache.spark.sql.SparkSession, opts: Map[String, String],
                      data: String): Unit = {
    val workload = opts("workload")
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toInt
    val trace = opts("trace") == "1"
    val work = opts("work")
    val counters = new Counters(spark.sparkContext)
    val streams = new StreamTelemetry(spark)
    val tracer = new Tracer(trace, counters)
    def setupDone(): Double = (System.currentTimeMillis() - opts("t0-ms").toLong) / 1e3

    val (setupS, out) = workload match {
      case "board" =>
        val expected = Boards.readExpected(Paths.get(opts("expected")))
        val b = new BoardRun(spark, data, Boards.queries, Boards.families, seed, seconds,
          expected, counters, tracer, streams)
        b.coldPass()
        b.warmPass()
        val s = setupDone()
        (s, b.run())
      case "cdc_pipeline" =>
        val p = new Pipeline(spark, work, seed, seconds, counters, tracer)
        p.warm()
        val s = setupDone()
        (s, p.run())
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val metrics: Seq[(String, String, Double)] =
      if (!trace) endToEnd.map { case (n, u) => (n, u, if (n == "setup_s") setupS else out.e2e(n)) }
      else {
        val layers = out.perLayer + ("session.job_floor_ms" -> jobFloorMs(spark))
        perLayer.map { case (n, u) => (n, u, layers.getOrElse(n, 0.0)) }
      }
    if (trace) {
      tracer.writeJsonLines(Paths.get(work, s"trace-$workload-${seed}.jsonl"))
      val prog = streams.all.map { p =>
        val d = p.durationMs.map { case (k, v) => s""""$k":$v""" }.mkString("{", ",", "}")
        s"""{"leg":"${p.leg}","run":"${p.run}","allUpdatesTimeMs":${p.allUpdatesTimeMs},""" +
          s""""commitTimeMs":${p.commitTimeMs},"numStateStoreInstances":""" +
          s"""${p.numStateStoreInstances},"durationMs":$d}"""
      }
      Files.writeString(Paths.get(work, s"stream-$workload-${seed}.jsonl"), prog.mkString("\n"))
    }
    def num(v: Double): String =
      if (v.isNaN || v.isInfinite) "null" else java.math.BigDecimal.valueOf(v).toPlainString
    val m = metrics.map { case (k, u, v) => s""""$k":{"value":${num(v)},"unit":"$u"}""" }
      .mkString("{", ",", "}")
    val info = out.info.map { case (k, v) => s""""$k":${GraftSession.jsonEscape(v)}""" }
      .mkString("{", ",", "}")
    println(s"""PERFBENCH_RESULT {"attempted":${out.attempted},"failed":${out.failed},""" +
      s""""metrics":$m,"info":$info}""")
  }

  /** The fixed cost of one trivial Spark action: median of five. */
  private def jobFloorMs(spark: org.apache.spark.sql.SparkSession): Double =
    Stats.median((1 to 5).map { _ =>
      val t0 = System.nanoTime()
      spark.range(0, 32, 1, 32).count()
      (System.nanoTime() - t0) / 1e6
    })
}
