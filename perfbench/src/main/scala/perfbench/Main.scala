package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.json4s._
import org.json4s.JsonDSL._
import org.json4s.jackson.JsonMethods.{compact, render}

/** The benchmark's JVM side. For each workload: the untimed check pass,
  * which writes every result for the oracle check and is also the
  * warm-up, then timed passes back to back (at least `--min-passes`,
  * more while another is expected to end within `--seconds`). With
  * `--trace 1` one traced pass and the layer probes follow.
  * Everything measured lands in one JSON file; `run.py` turns it into
  * the benchmark's result line.
  *
  * Usage: perfbench.Main --workloads migrate,curate_warehouse --seed 1 --seconds 8
  *   --trace 0 --input DIR --work DIR --out FILE [--spans FILE]
  *   [--corrupt OP,...] [--min-passes 1]
  * `--input DIR` holds one directory of tables per workload.
  */
object Main {
  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workloads = opts("workloads").split(",").toSeq.map(Workload.named)
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val trace = opts("trace") == "1"
    val minPasses = opts.getOrElse("min-passes", "1").toInt
    val work = opts("work")
    val corrupt = opts.get("corrupt").map(_.split(",").toSet).getOrElse(Set.empty[String])
    val nproc = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors)
    System.setProperty("derby.system.home", work)

    val spark = graft.GraftSession.builder("perfbench")
      .master(s"local[$nproc]")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    graft.GraftSession.silenceSidecarPathNoise()
    val sessionReadyMs = System.currentTimeMillis()

    val origin = System.nanoTime()
    def progress(msg: String): Unit =
      println(f"[perfbench] ${(System.nanoTime() - origin) / 1e9}%7.1f s  $msg")

    val allSpans = Seq.newBuilder[JValue]
    val results = workloads.map { w =>
      val ctx = new Ctx(spark, s"${opts("input")}/${w.name}", s"$work/${w.name}", seed,
        nproc, new Tracer(false), corrupt)
      // The check pass is the warm-up; a workload that verifies inside
      // its own passes warms up with an untimed pass instead.
      val tw = System.nanoTime()
      val checked = w.check(ctx)
      if (checked.isEmpty) w.pass(ctx, 0)
      val warmupS = (System.nanoTime() - tw) / 1e9
      progress(f"${w.name}: check and warm-up pass $warmupS%.1f s")

      val t0 = System.nanoTime()
      val passes = Seq.newBuilder[PassRun]
      var n = 0
      var last = 0.0
      while (n < minPasses || (n > 0 && (System.nanoTime() - t0) / 1e9 + last <= seconds)) {
        n += 1
        val p = w.pass(ctx, n)
        last = p.seconds
        passes += p
        progress(f"${w.name}: pass $n ${p.seconds}%.1f s")
      }
      val timed = passes.result()

      var probeChecks = Seq.empty[CheckItem]
      var tracedOps = Seq.empty[OpRun]
      val layers: Seq[(String, Double)] = if (!trace) Nil else {
        val tracer = new Tracer(true)
        val stats = new SparkStats(spark.sparkContext)
        spark.sparkContext.addSparkListener(stats)
        val tctx = ctx.traced(tracer, stats)
        stats.reset()
        JvmGauges.resetHeapPeak()
        val gc0 = JvmGauges.gcSeconds
        val drain0 = stats.drainSeconds
        val tp = tracer.span("pass", "workload", w.name)(w.pass(tctx, n + 1))
        tracedOps = tp.ops
        // what tracing adds on the pass's own thread: span records and
        // waits for the listener bus to drain
        val overheadS = stats.drainSeconds - drain0 + tracer.ownSeconds
        val gcS = JvmGauges.gcSeconds - gc0
        val heapMb = JvmGauges.heapPeakMb
        val tot = stats.totals()
        progress(f"${w.name}: traced pass ${tp.seconds}%.1f s")
        val own = w.layers(tctx, tp, tracer.spans)
        probeChecks = tctx.probeChecks.toSeq
        progress(s"${w.name}: layer probes done")
        spark.sparkContext.removeSparkListener(stats)
        tracer.spans.foreach { s =>
          allSpans += (("workload" -> w.name) ~ ("id" -> s.id) ~ ("parent" -> s.parent) ~
            ("name" -> s.name) ~ ("layer" -> s.layer) ~ ("op" -> s.op) ~
            ("start_ms" -> s.startMs) ~ ("end_ms" -> s.endMs))
        }
        val p = w.name
        own ++ Seq(
          s"$p.phase1_s" -> tp.phaseSeconds(1),
          s"$p.phase2_s" -> tp.phaseSeconds(2),
          s"$p.spark.jobs" -> tot.jobs.toDouble,
          s"$p.spark.stages" -> tot.stages.toDouble,
          s"$p.spark.tasks" -> tot.tasks.toDouble,
          s"$p.spark.cpu_s" -> tot.cpuS,
          s"$p.spark.run_s" -> tot.runS,
          s"$p.spark.gc_s" -> gcS,
          s"$p.spark.core_util" -> tot.cpuS / (tp.seconds * nproc),
          s"$p.spark.task_skew" -> tot.taskSkew,
          s"$p.spark.shuffle_bytes" -> tot.shuffleBytes.toDouble,
          s"$p.spark.spill_bytes" -> tot.spillBytes.toDouble,
          s"$p.jvm.heap_peak_mb" -> heapMb,
          s"$p.trace.overhead_s" -> overheadS,
        )
      }

      w.close()
      val checks = checked ++ probeChecks
      def opsJson(ops: Seq[OpRun]) = ops.map { o =>
        ("op" -> o.op) ~ ("phase" -> o.phase) ~ ("entry_s" -> o.entryS) ~
          ("exec_s" -> o.execS) ~ ("error" -> o.error)
      }
      ("workload" -> w.name) ~
        ("warmup_s" -> warmupS) ~
        ("passes" -> timed.map { p =>
          ("seconds" -> p.seconds) ~
            ("phases" -> p.phaseSeconds.toSeq.sortBy(_._1).map(_._2)) ~
            ("ops" -> opsJson(p.ops))
        }) ~
        ("traced_ops" -> opsJson(tracedOps)) ~
        ("checks" -> checks.map { c =>
          ("op" -> c.op) ~ ("sql" -> c.sql) ~ ("dir" -> c.dir) ~ ("error" -> c.error)
        }) ~
        ("layers" -> JObject(layers.map { case (k, v) => k -> JDouble(v) }.toList))
    }

    def write(path: String, v: JValue): Unit =
      Files.write(Paths.get(path), compact(render(v)).getBytes(StandardCharsets.UTF_8))
    opts.get("spans").foreach(write(_, JArray(allSpans.result().toList)))
    write(opts("out"), ("session_ready_ms" -> sessionReadyMs) ~ ("nproc" -> nproc) ~
      ("workloads" -> results))
    spark.stop()
  }
}
