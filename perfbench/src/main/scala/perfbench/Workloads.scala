package perfbench

import java.util.concurrent.{Executors, ScheduledExecutorService, TimeUnit, TimeoutException}

import scala.collection.mutable
import scala.util.{Random, Try}

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.{Migrator, SparkEntry}
import graft.config.SyncConfig
import graft.sinks.{ArrayCarrier, JdbcDest}
import graft.sources.FixtureSource
import graft.verify.Comparator

/** One timed execution of one op. */
final case class OpRun(op: String, layer: String, phase: Int, entryS: Double,
    execS: Double, error: Option[String]) {
  def seconds: Double = entryS + execS
}

/** One full pass of a workload's mix. */
final case class PassRun(seconds: Double, phaseSeconds: Map[Int, Double], ops: Seq[OpRun])

/** One result written for the oracle check, or the error that kept it
  * from being written.
  */
final case class CheckItem(op: String, sql: String, dir: String, error: Option[String])

/** Everything a workload needs for one run. `stats` and `frames` are set
  * only for the traced pass.
  */
final class Ctx(val spark: SparkSession, val input: String, val work: String,
    val seed: Long, val nproc: Int, val tracer: Tracer, val corrupt: Set[String],
    val stats: Option[SparkStats] = None) {
  val frames = mutable.LinkedHashMap.empty[String, DataFrame]
  val probeChecks = mutable.ArrayBuffer.empty[CheckItem]
  /** Bytes read and written by each traced op's tasks. */
  val opBytes = mutable.Map.empty[String, (Long, Long)]

  def traced(tracer: Tracer, stats: SparkStats): Ctx =
    new Ctx(spark, input, work, seed, nproc, tracer, corrupt, Some(stats))

  /** Runs `body` with its Spark jobs tagged; past the deadline the jobs
    * are cancelled and the call fails with a timeout.
    */
  def withTimeout[T](tag: String)(body: => T): T = {
    val sc = spark.sparkContext
    @volatile var fired = false
    sc.addJobTag(tag)
    val timer = Ctx.timers.schedule(new Runnable {
      def run(): Unit = { fired = true; sc.cancelJobsWithTag(tag) }
    }, Ctx.opTimeoutS.toLong, TimeUnit.SECONDS)
    try body
    catch { case e: Throwable if fired =>
      throw new TimeoutException(s"$tag exceeded ${Ctx.opTimeoutS} s (${e.getClass.getSimpleName})")
    } finally {
      timer.cancel(false)
      sc.removeJobTag(tag)
    }
  }
}

object Ctx {
  /** Per-op deadline; an op past it counts as failed. */
  val opTimeoutS = 60

  val timers: ScheduledExecutorService = Executors.newSingleThreadScheduledExecutor { r =>
    val t = new Thread(r, "perfbench-timeout")
    t.setDaemon(true)
    t
  }
}

trait Workload {
  def name: String

  def pass(ctx: Ctx, n: Int): PassRun

  /** Writes every result for the oracle check; empty when the pass
    * verifies its own output.
    */
  def check(ctx: Ctx): Seq[CheckItem]

  /** Per-layer metrics from the traced pass, plus any layer probes. */
  def layers(ctx: Ctx, traced: PassRun, spans: Seq[Span]): Seq[(String, Double)]

  /** Releases what the passes kept between them. */
  def close(): Unit = ()

  protected def secondsSince(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  protected def shuffled[T](seed: Long, xs: Seq[T]): Seq[T] = new Random(seed).shuffle(xs)

  protected def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()
}

object Workload {
  val all: Seq[Workload] = Seq(Migrate, CurateWarehouse)
  def named(name: String): Workload = all.find(_.name == name).getOrElse(
    throw new IllegalArgumentException(s"unknown workload $name"))
}

/** The paper's own job: sync every fixture table into an in-memory
  * embedded Derby through `JdbcDest`, then the `compareDb --deep`
  * path — row counts, then content checksums per table. Phase 1 is the
  * sync, phase 2 the verification. Every pass verifies its own output.
  */
object Migrate extends Workload {
  val name = "migrate"
  val tables = Seq("region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings")

  private def destUrl(tag: String) = s"jdbc:derby:memory:perfbench_$tag"

  private def dest(ctx: Ctx, tag: String) =
    JdbcDest(s"${destUrl(tag)};create=true", new java.util.Properties(),
      maxConnections = ctx.nproc)

  private def drop(tag: String): Unit =
    try { java.sql.DriverManager.getConnection(s"${destUrl(tag)};drop=true"); () }
    catch { case _: java.sql.SQLException => () } // 08006 reports a dropped database

  /** Deletes one row of `table` behind the sync's back: the self-test's
    * deliberately corrupted result.
    */
  private def corrupt(d: JdbcDest, table: String): Unit = {
    val conn = java.sql.DriverManager.getConnection(d.url, d.props)
    try {
      val t = d.quoteIdent(table)
      val col = conn.createStatement().executeQuery(s"SELECT * FROM $t")
        .getMetaData.getColumnName(1)
      conn.createStatement().executeUpdate(
        s"DELETE FROM $t WHERE \"$col\" = (SELECT MIN(\"$col\") FROM $t)")
      ()
    } finally conn.close()
  }

  /** Every pass syncs into the same database: the first creates the
    * tables, later ones truncate and reload them, as a re-sync does.
    */
  def pass(ctx: Ctx, n: Int): PassRun = {
    val d = dest(ctx, "main")
    val src = FixtureSource(ctx.input)
    val sc = SyncConfig(maxParallel = ctx.nproc)
    val t0 = System.nanoTime()
    val synced = Try(ctx.withTimeout(s"perfbench-sync-$n")(
      ctx.tracer.span("sync", "migrator")(new Migrator(ctx.spark, src, d, sc).run())))
    val syncS = secondsSince(t0)
    ctx.corrupt.filter(tables.contains).foreach(corrupt(d, _))
    val t1 = System.nanoTime()
    val names = shuffled(ctx.seed, tables)
    val counts = Try(ctx.tracer.span("compareCounts", "verify")(
      Comparator.compareCounts(ctx.spark, src, d.asSource, names, maxParallel = ctx.nproc,
        timeout = scala.concurrent.duration.FiniteDuration(Ctx.opTimeoutS, "s")).collect()))
    val countS = secondsSince(t1)
    val sums = names.map { t =>
      val tc = System.nanoTime()
      val ok = Try(ctx.withTimeout(s"perfbench-checksum-$t")(ctx.tracer.span("compareChecksums", "verify", t)(
        Comparator.compareChecksums(ctx.spark, src, d.asSource, t))))
      t -> (ok, secondsSince(tc))
    }.toMap
    val verifyS = secondsSince(t1)
    val syncOps = synced match {
      case scala.util.Success(rs) =>
        tables.map { t =>
          rs.find(_.table == t) match {
            case Some(r) => OpRun(s"sync:$t", "migrator", 1, 0.0, r.seconds,
              if (r.ok) None else Some(r.error.getOrElse("sync failed")))
            case None => OpRun(s"sync:$t", "migrator", 1, 0.0, 0.0, Some("table not synced"))
          }
        }
      case scala.util.Failure(e) =>
        tables.map(t => OpRun(s"sync:$t", "migrator", 1, 0.0, 0.0, Some(e.toString)))
    }
    val verifyOps = names.map { t =>
      val countOk = counts.toOption.flatMap(_.find(_.getAs[String]("table_name") == t))
        .map(_.getAs[String]("is_ok"))
      val err = (countOk, sums(t)._1) match {
        case (Some("YES"), scala.util.Success(true)) => None
        case (Some("YES"), scala.util.Success(false)) => Some("checksum mismatch")
        case (_, scala.util.Failure(e)) => Some(s"checksum failed: $e")
        case (Some(v), _) => Some(s"compareCounts is_ok=$v")
        case (None, _) => Some(s"no compareCounts row: ${counts.failed.toOption.getOrElse("")}")
      }
      // the counts run for all tables at once: each table is billed an
      // equal share of them, plus its own checksum
      OpRun(s"verify:$t", "verify", 2, countS / names.size, sums(t)._2, err)
    }
    PassRun(syncS + verifyS, Map(1 -> syncS, 2 -> verifyS), syncOps ++ verifyOps)
  }

  override def close(): Unit = drop("main")

  def check(ctx: Ctx): Seq[CheckItem] = Nil

  /** Calls the read, pack, insert and read-back layers one table at a
    * time into a fresh database; the verification layers are timed by
    * the traced pass's own count and checksum spans.
    */
  def layers(ctx: Ctx, traced: PassRun, spans: Seq[Span]): Seq[(String, Double)] = {
    val syncS = traced.phaseSeconds(1)
    val tableS = traced.ops.filter(_.phase == 1).map(o => o.op.stripPrefix("sync:") -> o.seconds)
    def named(name: String) = spans.filter(_.name == name).map(_.seconds).sum
    val tag = "probe"
    val d = dest(ctx, tag)
    val src = FixtureSource(ctx.input)
    val stats = ctx.stats.get
    val tr = ctx.tracer
    var writeTasks, readbackTasks = 0L
    var lineitemRowsPerS = 0.0
    try {
      shuffled(ctx.seed, tables).foreach { t =>
        tr.span(t, "table", t) {
          val df = src.table(ctx.spark, t)
          tr.span("read", "sources", t)(noop(df))
          if (ArrayCarrier.needed(df)) tr.span("pack", "sinks.pack", t)(noop(ArrayCarrier.pack(df)))
          val before = stats.taskCount
          val t0 = System.nanoTime()
          tr.span("insert", "sinks.insert", t)(d.write(src.table(ctx.spark, t), t))
          if (t == "lineitem") lineitemRowsPerS = df.count() / secondsSince(t0)
          writeTasks += stats.taskCount - before
          val back = stats.taskCount
          tr.span("readback", "verify.readback", t)(noop(d.asSource.table(ctx.spark, t)))
          readbackTasks += stats.taskCount - back
        }
      }
    } finally drop(tag)
    val self = Tracer.selfSeconds(tr.spans)
    def sum(layer: String) = self.getOrElse(layer, 0.0)
    Seq(
      "sources.read_s" -> sum("sources"),
      "sinks.pack_s" -> sum("sinks.pack"),
      "sinks.insert_s" -> sum("sinks.insert"),
      "sinks.insert_self_s" -> (sum("sinks.insert") - sum("sources") - sum("sinks.pack")),
      "sinks.rows_per_s" -> lineitemRowsPerS,
      "sinks.write_tasks" -> writeTasks.toDouble,
      "migrator.critical_s" -> tableS.map(_._2).max,
      "migrator.overlap" -> tableS.map(_._2).sum / syncS,
      "verify.count_s" -> named("compareCounts"),
      "verify.checksum_s" -> named("compareChecksums"),
      "verify.readback_s" -> sum("verify.readback"),
      "verify.readback_tasks" -> readbackTasks.toDouble,
    ) ++ tableS.sortBy(_._1).map { case (t, s) => s"table.${t}_s" -> s }
  }
}

/** One `SparkEntry` gate: the layer it exercises and the phase it runs in. */
final case class Query(name: String, layer: String, phase: Int)

/** A mix of oracle-gated `SparkEntry` queries, run phase by phase in an
  * order the seed shuffles within each phase. Each op is timed to its
  * full result: the entry call (including any eager jobs), then a write
  * of the returned frame to the `noop` sink, which computes every
  * output column.
  */
abstract class QueryMix extends Workload {
  def mix: Seq[Query]

  def ordered(seed: Long): Seq[Query] =
    mix.groupBy(_.phase).toSeq.sortBy(_._1).flatMap { case (_, qs) => shuffled(seed, qs) }

  protected def runOp(ctx: Ctx, q: Query): OpRun = ctx.tracer.span(q.name, q.layer, q.name) {
    val before = ctx.stats.map(_.totals())
    var entryS, execS = 0.0
    val error = Try(ctx.withTimeout(s"perfbench-${q.name}") {
      val t0 = System.nanoTime()
      val df = ctx.tracer.span("entry", q.layer, q.name)(SparkEntry.queries(q.name)(ctx.spark, ctx.input))
      entryS = secondsSince(t0)
      val t1 = System.nanoTime()
      ctx.tracer.span("exec", q.layer, q.name)(noop(df))
      execS = secondsSince(t1)
      if (ctx.stats.isDefined) ctx.frames(q.name) = df
    }).failed.toOption.map(_.toString)
    for (b <- before; a <- ctx.stats.map(_.totals()))
      ctx.opBytes(q.name) = (a.inputBytes - b.inputBytes, a.outputBytes - b.outputBytes)
    OpRun(q.name, q.layer, q.phase, entryS, execS, error)
  }

  def pass(ctx: Ctx, n: Int): PassRun = {
    val t0 = System.nanoTime()
    val byPhase = ordered(ctx.seed).groupBy(_.phase).toSeq.sortBy(_._1).map { case (p, qs) =>
      val tp = System.nanoTime()
      val ops = qs.map(runOp(ctx, _))
      val s = secondsSince(tp)
      (p, s, ops)
    }
    PassRun(secondsSince(t0), byPhase.map(b => b._1 -> b._2).toMap, byPhase.flatMap(_._3))
  }

  /** Gates timed only in the traced run, as layer probes. */
  def probes: Seq[Query] = Nil

  def check(ctx: Ctx): Seq[CheckItem] = ordered(ctx.seed).map { q =>
    val error = Try(ctx.withTimeout(s"perfbench-check-${q.name}")(
      save(ctx, q, SparkEntry.queries(q.name)(ctx.spark, ctx.input)))).failed.toOption
    checkItem(ctx, q, error)
  }

  private def checkDir(ctx: Ctx, q: Query) = s"${ctx.work}/check/${q.name}"

  private def checkItem(ctx: Ctx, q: Query, error: Option[Throwable]) =
    CheckItem(q.name, SparkEntry.oracleSql.getOrElse(q.name, ""), checkDir(ctx, q),
      error.map(_.toString))

  /** Writes a result for the oracle check; a corrupted op gets one of its
    * rows duplicated.
    */
  private def save(ctx: Ctx, q: Query, df: DataFrame): Unit = {
    val out = if (ctx.corrupt.contains(q.name)) df.union(df.limit(1)) else df
    out.coalesce(1).write.mode("overwrite").parquet(checkDir(ctx, q))
  }

  /** Runs each probe once, traced: its entry call is timed, and its
    * result is written for the oracle check instead of to the noop sink.
    */
  protected def runProbes(ctx: Ctx): Seq[OpRun] = probes.map { q =>
    var entryS, execS = 0.0
    val error = Try(ctx.withTimeout(s"perfbench-${q.name}")(ctx.tracer.span(q.name, q.layer, q.name) {
      val t0 = System.nanoTime()
      val df = ctx.tracer.span("entry", q.layer, q.name)(SparkEntry.queries(q.name)(ctx.spark, ctx.input))
      entryS = secondsSince(t0)
      val t1 = System.nanoTime()
      ctx.tracer.span("check", q.layer, q.name)(save(ctx, q, df))
      execS = secondsSince(t1)
    })).failed.toOption
    ctx.probeChecks += checkItem(ctx, q, error)
    OpRun(q.name, q.layer, q.phase, entryS, execS, error.map(_.toString))
  }

  protected def opSeconds(ops: Seq[OpRun]): Seq[(String, Double)] =
    ops.sortBy(_.op).map(o => s"op.${o.op}_s" -> o.seconds)

  protected def layerSeconds(spans: Seq[Span], layer: String): Double =
    Tracer.selfSeconds(spans).getOrElse(layer, 0.0)
}

/** One analysis session over the sf0.01 tables. Phase 1 curates a small
  * corpus: many short operator calls, one or two per operator family,
  * where per-row kernels and per-query fixed costs dominate. Phase 2 is
  * the warehouse: scans, joins and shuffles beside the storage writes of
  * the `plans` layer.
  */
object CurateWarehouse extends QueryMix {
  val name = "curate_warehouse"
  val mix = Seq(
    Query("q_text_fingerprint", "operators.TextAnalysis", 1),
    Query("q_text_entropy", "operators.TextAnalysis", 1),
    Query("q_dedup_exact", "operators.Dedup", 1),
    Query("q_corpus_c4_filter", "operators.Corpus", 1),
    Query("q_sim_topk", "operators.Similarity", 1),
    Query("q_graph_pagerank", "operators.Graph", 1),
    Query("q_mm_dhash", "operators.Multimodal", 1),
    Query("q_link_fuzzy_pairs", "operators.Linkage", 1),
    Query("q_tpch_q1", "analytics", 2),
    Query("q_join_skew_salted", "plans.joins", 2),
    Query("q_zorder_scan", "plans", 2),
    Query("q_corpus_upsert", "plans", 2),
  )
  // About 6 s of streaming lifecycle per call: too long for every pass
  // of a run, so it is timed in the traced run only.
  override val probes = Seq(Query("q_stream_ingest_twin", "streaming", 2))

  def layers(ctx: Ctx, traced: PassRun, spans: Seq[Span]): Seq[(String, Double)] = {
    val curate = traced.ops.filter(_.phase == 1)
    val writes = traced.ops.filter(_.layer == "plans").map(_.op).toSet
    val written = ctx.opBytes.filter { case (q, _) => writes(q) }.values
    val (inBytes, outBytes) = (written.map(_._1).sum.toDouble, written.map(_._2).sum.toDouble)
    val shapes = ctx.frames.toSeq.filter { case (q, _) => curate.exists(_.op == q) }.sortBy(_._1)
      .map { case (q, df) => q -> PlanShape.of(ctx.spark, df) }
    val probed = runProbes(ctx)
    val families = curate.map(_.layer).distinct.sorted
    families.map(f => s"${f}_s" -> layerSeconds(spans, f)) ++
      Seq(
        "driver.entry_s" -> curate.map(_.entryS).sum,
        "driver.exec_s" -> curate.map(_.execS).sum,
        "functions.interpreted_nodes" -> shapes.map(_._2.interpreted).sum.toDouble,
        "functions.hof_nodes" -> shapes.map(_._2.hof).sum.toDouble,
      ) ++
      shapes.flatMap { case (q, c) =>
        Seq(s"functions.$q.interpreted_nodes" -> c.interpreted.toDouble,
          s"functions.$q.hof_nodes" -> c.hof.toDouble)
      } ++
      Seq(
        "analytics.tpch_s" -> layerSeconds(spans, "analytics"),
        "plans.joins_s" -> layerSeconds(spans, "plans.joins"),
        "plans.maintain_entry_s" -> traced.ops.filter(o => writes(o.op)).map(_.entryS).sum,
        "plans.output_bytes" -> outBytes,
        "plans.write_amp" -> outBytes / math.max(1.0, inBytes),
        "streaming.ingest_s" -> probed.filter(_.layer == "streaming").map(_.entryS).sum,
      ) ++ opSeconds(traced.ops ++ probed)
  }
}
