package graftbench

import java.nio.file.{Files, Path}

import scala.collection.mutable

import graft.QueryDef
import graft.storage.{BufferedFactSink, FactTable}
import graft.streaming.DocsisStream
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Everything one run shares: the session and its instruments, the run
  * directory, the workload seed and the per-layer accumulator.
  */
final class Ctx(val cores: Int, val runDir: Path, val seed: Long, val traceMode: Boolean) {
  var spark: SparkSession = _
  var tracer: Tracer = _
  val layers = new LayerMetrics
  private var heapPeak = 0L

  def fresh(name: String): Path = Files.createDirectories(runDir.resolve(name))

  /** Start a session with the benchmark's instruments attached, stopping
    * the previous one first.
    */
  def startSession(): Unit = {
    if (spark != null) {
      spark.stop()
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
    }
    spark = Session.start(cores, runDir.toString)
    tracer = new Tracer(spark)
  }

  /** Sample the post-GC heap: the largest heap used right after a
    * collection, over every pool.
    */
  def sampleHeap(): Unit = {
    import scala.jdk.CollectionConverters._
    val used = java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .flatMap(p => Option(p.getCollectionUsage)).map(_.getUsed).sum
    heapPeak = math.max(heapPeak, used)
  }
  def heapPeakMb: Double = heapPeak / 1048576.0
}

trait Workload {
  /** The benchmark's own inputs, generated from the seed on the first
    * session.
    */
  def inputs(ctx: Ctx): Unit
  /** The program's set-up over those inputs, on a new session with the
    * engine's extensions. Runs several times; each run replaces what the
    * previous one set up.
    */
  def setup(ctx: Ctx): Unit
  /** Untimed warm-up before the measured loop. */
  def warmUp(ctx: Ctx): Unit
  /** The measured closed loop, bounded by `seconds`. */
  def run(ctx: Ctx, seconds: Int): RunResult
}

/** One registry query as one timed operation: build the DataFrame
  * (`QueryDef.build`; eager driver jobs land in the `build` group), plan
  * it (`queryExecution.executedPlan`), then execute that plan once and
  * digest its rows.
  */
final case class QueryOp(name: String, seconds: Double, buildS: Double,
    planS: Double, execS: Double, buildJobs: Long, ok: Boolean,
    groups: Map[String, JobTotals], fs: (Long, Long, Long))

object QueryOp {
  def run(ctx: Ctx, q: QueryDef, dir: String, expected: Option[(Long, Long)],
      op: Long, traced: Boolean): QueryOp = {
    val tr = ctx.tracer
    def span[T](name: String, parent: String = "op")(body: => T): T =
      if (traced) tr.span(name, op, parent)(body) else body
    val before = tr.jobTotals()
    val fs0 = FsCounters.read()
    val t0 = System.nanoTime()
    var (t1, t2, t3) = (t0, t0, t0)
    val ok = span("op", "") {
      try {
        val df = tr.inGroup("build")(span("operators.build")(q.build(ctx.spark, dir)))
        t1 = System.nanoTime()
        tr.inGroup("plan")(span("plans.plan")(df.queryExecution.executedPlan))
        t2 = System.nanoTime()
        val digest = tr.inGroup("exec")(span("exec.run")(ResultHash(df)))
        if (!expected.contains(digest))
          System.err.println(s"[graftbench] ${q.name}: (rows, digest) = $digest, expected $expected")
        expected.contains(digest)
      } catch {
        case e: Exception =>
          System.err.println(s"[graftbench] ${q.name} failed: ${e.getMessage}")
          false
      } finally t3 = System.nanoTime()
    }
    val fs1 = FsCounters.read()
    val after = tr.jobTotals()
    val delta = after.map { case (g, a) => g -> a.minus(before.getOrElse(g, new JobTotals)) }
    ctx.sampleHeap()
    QueryOp(q.name, (t3 - t0) / 1e9, (t1 - t0) / 1e9, (t2 - t1) / 1e9, (t3 - t2) / 1e9,
      delta.get("build").map(_.jobs).getOrElse(0L), ok, delta,
      (fs1._1 - fs0._1, fs1._2 - fs0._2, fs1._3 - fs0._3))
  }

  /** The corpus of a query workload (the given tables of it), generated
    * into a fresh directory. Returns its path.
    */
  def corpus(ctx: Ctx, sf: Double, tables: Seq[String]): String = {
    val dir = ctx.fresh("corpus").toString
    Corpus.generate(ctx.spark, dir, sf, 42L, tables)
    dir
  }

  /** Set-up of a query workload: a new session, then the corpus tables
    * resolved through the engine's loader (`Tables.load`).
    */
  def setup(ctx: Ctx, dir: String, tables: Seq[String]): Unit = {
    ctx.startSession()
    tables.foreach(t => graft.Tables.load(ctx.spark, dir, t).schema)
  }

  /** The run's result: end-to-end timings from the untraced ops, layers
    * from the traced ones, tracing overhead as the difference of their
    * medians.
    */
  def result(ctx: Ctx, ops: Seq[(QueryOp, Boolean)], elapsedS: Double): RunResult = {
    val (traced, plain) = ops.partition(_._2)
    layers(ctx, traced.map(_._1))
    if (ctx.traceMode) ctx.layers.update("trace.overhead_s",
      Stats.median(traced.map(_._1.seconds)) - Stats.median(plain.map(_._1.seconds)))
    // one line per query: its median seconds
    val perQuery = ops.map(_._1).groupBy(_.name).toSeq.sortBy(_._1).map { case (n, qs) =>
      (s"query $n", Stats.median(qs.map(_.seconds)), "s", qs.size) }
    RunResult(ops.size, ops.count(!_._1.ok), elapsedS, plain.map(_._1.seconds), perQuery,
      ctx.layers)
  }

  /** Per-layer metrics over the traced operations (per-op means). */
  def layers(ctx: Ctx, ops: Seq[QueryOp]): Unit = if (ops.nonEmpty) {
    val l = ctx.layers
    val n = ops.size.toDouble
    def mean(f: QueryOp => Double) = ops.map(f).sum / n
    val exec = new JobTotals
    ops.foreach(_.groups.get("exec").foreach(exec += _))
    val total = ops.map(_.seconds).sum
    l.update("operators.build_s", mean(_.buildS))
    l.update("operators.build_jobs", mean(_.buildJobs.toDouble))
    l.update("operators.build_share", ops.map(_.buildS).sum / total)
    l.update("plans.plan_s", mean(_.planS))
    l.update("plans.plan_share", ops.map(_.planS).sum / total)
    l.update("exec.s", mean(_.execS))
    l.update("exec.jobs", exec.jobs / n)
    l.update("exec.tasks", exec.tasks / n)
    l.update("exec.executor_run_s", exec.runMs / 1e3 / n)
    l.update("exec.core_util", exec.runMs / 1e3 / (ops.map(_.execS).sum * ctx.cores))
    l.update("exec.shuffle_bytes", exec.shuffleBytes / n)
    l.update("exec.spill_bytes", exec.spillBytes / n)
    l.update("exec.gc_s", exec.gcMs / 1e3 / n)
    l.update("storage.fs_list_calls", mean(_.fs._1.toDouble))
    l.update("storage.fs_create_calls", mean(_.fs._2.toDouble))
    l.update("storage.bytes_written", mean(_.fs._3.toDouble))
  }

  def fail(msg: String): Nothing = throw new IsolationError(msg)
}

final class IsolationError(msg: String) extends RuntimeException(msg)

/** Expected (row count, digest) per (scale factor, query), stored with
  * the benchmark; `corrupt` names a query whose expectation is falsified
  * (a check of the output check itself).
  */
final class Expected(path: Path, corrupt: Option[String]) {
  private val table: Map[(String, String), (Long, Long)] = {
    import scala.jdk.CollectionConverters._
    Files.readAllLines(path).asScala.toSeq.map(_.trim)
      .filter(l => l.nonEmpty && !l.startsWith("#")).map(_.split("\t"))
      .collect { case Array(sf, q, r, h) => (sf, q) -> (r.toLong, h.toLong) }.toMap
  }
  def apply(sf: Double, q: String): Option[(Long, Long)] =
    table.get((sf.toString, q)).map { case (r, h) => (r, if (corrupt.contains(q)) h + 1 else h) }
}

/** A fixed set of query-bucket registry queries over one generated
  * corpus. One untimed pass builds every corpus-keyed store; timed passes
  * then run the whole set in a seed-shuffled order.
  */
final class OlapWarm(sf: Double, queries: Seq[String], expected: Expected) extends Workload {
  private var dir: String = _
  private val defs = queries.map(n => QueryDef.registry.find(_.name == n)
    .getOrElse(sys.error(s"unknown query $n")))

  def inputs(ctx: Ctx): Unit = dir = QueryOp.corpus(ctx, sf, Corpus.tables)
  def setup(ctx: Ctx): Unit = QueryOp.setup(ctx, dir, Corpus.tables)
  /** The first pass: builds every corpus-keyed store the set uses. */
  def warmUp(ctx: Ctx): Unit =
    defs.foreach(q => QueryOp.run(ctx, q, dir, expected(sf, q.name), -1, traced = false))

  def run(ctx: Ctx, seconds: Int): RunResult = {
    val rnd = new scala.util.Random(ctx.seed)
    val ops = mutable.ArrayBuffer[(QueryOp, Boolean)]()
    val t0 = System.nanoTime()
    var pass = 0
    // a traced run needs one untraced and one traced pass at least
    while (pass < (if (ctx.traceMode) 2 else 1) || System.nanoTime() - t0 < seconds * 1e9) {
      // in a traced run, odd passes are traced and even ones are not
      val traced = ctx.traceMode && pass % 2 == 1
      rnd.shuffle(defs).foreach { q =>
        val op = QueryOp.run(ctx, q, dir, expected(sf, q.name), ops.size, traced)
        if (op.buildJobs != 0)
          QueryOp.fail(s"olap_warm: ${q.name} submitted ${op.buildJobs} build jobs in a " +
            "timed pass; the workload no longer measures warm queries")
        ops += ((op, traced))
      }
      pass += 1
    }
    QueryOp.result(ctx, ops.toSeq, (System.nanoTime() - t0) / 1e9)
  }
}

/** First touches of store-building queries. One op is one round: every
  * query of the set, in its given order, on a corpus path the process has
  * never seen (a fresh directory of links to the same files), so every
  * corpus-keyed memo and store misses; the path is removed afterwards.
  * The round, not the single query, is the op: its queries differ
  * widely in cost. An untimed first round carries the process's JIT
  * warm-up of the build path; the measured loop then runs as many whole
  * rounds as fit in the run's seconds, at least one. Every round must
  * submit build jobs in each query and spend at least half its time in
  * `QueryDef.build`.
  */
final class StoreCold(sf: Double, queries: Seq[String], expected: Expected,
    reusePath: Boolean) extends Workload {
  /** Least share of every round's time its builds must take (guarded). */
  private val MinBuildShare = 0.5
  // every store builder in the set reads only these
  private val tables = Seq("documents", "embeddings")
  private var dir: String = _
  private val defs = queries.map(n => QueryDef.registry.find(_.name == n)
    .getOrElse(sys.error(s"unknown query $n")))

  def inputs(ctx: Ctx): Unit = dir = QueryOp.corpus(ctx, sf, tables)
  def setup(ctx: Ctx): Unit = QueryOp.setup(ctx, dir, tables)
  def warmUp(ctx: Ctx): Unit = round(ctx, "warm", -1, traced = false)

  /** One round on a fresh corpus path, with the isolation guards. */
  private def round(ctx: Ctx, name: String, op: Long, traced: Boolean): Seq[QueryOp] = {
    val path = ctx.runDir.resolve(s"cold-${ctx.seed}-$name")
    Corpus.linkCopy(dir, path.toString)
    // --reuse-cold-path (a check of the guard itself) runs each query
    // twice on the path, the second time over stores already built
    val ops = defs.flatMap(q => Seq.fill(if (reusePath) 2 else 1)(q)).map { q =>
      val o = QueryOp.run(ctx, q, path.toString, expected(sf, q.name), op, traced)
      if (o.buildJobs == 0)
        QueryOp.fail(s"store_cold: ${q.name} submitted no build jobs on a fresh " +
          "corpus path; the workload no longer measures cold store builds")
      o
    }
    deleteTree(path)
    val share = buildShare(ops)
    if (share < MinBuildShare)
      QueryOp.fail(f"store_cold: build share $share%.3f of round $name is under " +
        s"$MinBuildShare; store builds no longer dominate the workload")
    ops
  }

  def run(ctx: Ctx, seconds: Int): RunResult = {
    val rounds = mutable.ArrayBuffer[(Seq[QueryOp], Boolean)]()
    val t0 = System.nanoTime()
    var last = 0.0
    // a traced run needs an untraced and a traced round at least
    while (rounds.size < (if (ctx.traceMode) 2 else 1) ||
        (System.nanoTime() - t0) / 1e9 + last <= seconds) {
      // in a traced run, odd rounds are traced and even ones are not
      val traced = ctx.traceMode && rounds.size % 2 == 1
      val r0 = System.nanoTime()
      rounds += ((round(ctx, rounds.size.toString, rounds.size, traced), traced))
      last = (System.nanoTime() - r0) / 1e9
    }
    val elapsed = (System.nanoTime() - t0) / 1e9
    val (tr, plain) = rounds.toSeq.partition(_._2)
    QueryOp.layers(ctx, tr.flatMap(_._1))
    def roundS(rs: Seq[(Seq[QueryOp], Boolean)]) = rs.map(_._1.map(_.seconds).sum)
    if (ctx.traceMode) ctx.layers.update("trace.overhead_s",
      Stats.median(roundS(tr)) - Stats.median(roundS(plain)))
    val perQuery = rounds.flatMap(_._1).groupBy(_.name).toSeq.sortBy(_._1).map { case (n, qs) =>
      (s"query $n", Stats.median(qs.map(_.seconds).toSeq), "s", qs.size) }
    val shares = rounds.map(r => buildShare(r._1)).toSeq
    RunResult(rounds.size, rounds.count(!_._1.forall(_.ok)), elapsed, roundS(plain),
      ("build_share", Stats.median(shares), "ratio", shares.size) +: perQuery, ctx.layers)
  }

  /** Share of a round's time spent in `QueryDef.build`. */
  private def buildShare(ops: Seq[QueryOp]): Double =
    ops.map(_.buildS).sum / ops.map(_.seconds).sum

  private def deleteTree(p: Path): Unit =
    Files.walk(p).sorted(java.util.Comparator.reverseOrder()).forEach(f => Files.delete(f))
}

/** The paper's pipeline for a fleet of modems. One op is one scrape
  * period (tick): each phase's HNAP payloads go through a MemoryStream,
  * `DocsisStream.parseStream` and `foreachBatch(BufferedFactSink.addBatch)`
  * into a live FactTable as one micro-batch, then two dashboard reads run
  * on that table. Ticks are generated one at a time, so the loop is
  * bounded by time alone; the table grows through the run, as it would in
  * production.
  */
final class IngestDashboard(modems: Int, phases: Int, warmTicks: Int, stepSeconds: Int,
    windowMinutes: Int) extends Workload {
  import Fleet._

  private var fleet: Fleet = _
  private var first: Tick = _
  private var pipe: Pipeline = _
  private var setups = 0
  private val stored = mutable.ArrayBuffer[Stored]()
  // what each tick's reads returned, checked once the run is over:
  // (stored rows at the time, window start, buckets, modem, panel)
  private val seen = mutable.ArrayBuffer[(Int, Long, Map[BucketKey, BucketVal], String,
    (Long, Long, Long, Long, Long))]()
  private var payloadBytes = 0L

  /** The fleet and its first tick; later ticks are generated as the run
    * needs them.
    */
  def inputs(ctx: Ctx): Unit = {
    fleet = new Fleet(ctx.seed, modems, stepSeconds, phases)
    first = fleet.nextTick()
  }

  /** A new session, a live table fed by a started streaming query, and
    * the commit of the first tick: the stream's first micro-batches plan
    * the query and start its offset and commit logs.
    */
  def setup(ctx: Ctx): Unit = {
    if (pipe != null) pipe.stop()
    ctx.startSession()
    setups += 1
    pipe = new Pipeline(ctx, ctx.fresh(s"live-$setups"))
    pipe.commit(first, traced = false, 0)
  }

  /** The first tick's reads, then further ticks. */
  def warmUp(ctx: Ctx): Unit = {
    reads(first, 0, traced = false)
    (1 until warmTicks).foreach(i => tick(ctx, fleet.nextTick(), i, traced = false))
  }

  /** One op: hand the tick to the stream, then the two dashboard reads.
    * Returns (commit, first read, second read) seconds.
    */
  private def tick(ctx: Ctx, tk: Tick, i: Int, traced: Boolean): (Double, Double, Double) = {
    def body() = {
      val a = System.nanoTime()
      pipe.commit(tk, traced, i)
      val c = (System.nanoTime() - a) / 1e9
      val (r1, r2) = reads(tk, i, traced)
      (c, r1, r2)
    }
    if (traced) ctx.tracer.span("op", i)(body()) else body()
  }

  private def reads(tk: Tick, i: Int, traced: Boolean): (Double, Double) = {
    val b = System.nanoTime()
    val from = tk.ts.getTime - windowMinutes * 60000L
    val buckets = pipe.windowRead(from, traced, i)
    val c = System.nanoTime()
    val modem = fleet.names(i % modems)
    val panel = pipe.panelRead(modem, from, traced, i)
    val d = System.nanoTime()
    stored ++= tk.scrapes.flatMap(_.stored)
    payloadBytes += tk.payloadBytes
    seen += ((stored.size, from, buckets, modem, panel))
    ((c - b) / 1e9, (d - c) / 1e9)
  }

  def run(ctx: Ctx, seconds: Int): RunResult = {
    val commits = mutable.ArrayBuffer[(Double, Boolean)]()
    val reads = mutable.ArrayBuffer[(Double, Boolean)]()
    val opS = mutable.ArrayBuffer[(Double, Boolean)]()
    pipe.flushes(traced = false, -1) // count from here on
    var flushes = 0
    val fs0 = FsCounters.read()
    val t0 = System.nanoTime()
    var i = warmTicks
    while (i == warmTicks || System.nanoTime() - t0 < seconds * 1e9) {
      // in a traced run, every other tick is traced
      val traced = ctx.traceMode && i % 2 == 1
      val (c, r1, r2) = tick(ctx, fleet.nextTick(), i, traced)
      commits += ((c, traced))
      reads += ((r1, traced)); reads += ((r2, traced))
      opS += ((c + r1 + r2, traced))
      flushes += pipe.flushes(traced, i)
      ctx.sampleHeap()
      i += 1
    }
    val measured = i - warmTicks
    val fs1 = FsCounters.read()
    pipe.stop()
    val ok = seen.zipWithIndex.drop(warmTicks).map {
      case ((n, from, buckets, modem, panel), k) =>
        val rows = stored.take(n).toSeq
        val good = buckets == dashboard(rows, from) && panel == Fleet.panel(rows, modem, from)
        if (!good) System.err.println(s"[graftbench] tick $k: dashboard reads differ from the generator's values")
        good
    }
    // the last tick also owns the final row count
    val tableRows = pipe.table.read().count()
    if (tableRows != stored.size) {
      System.err.println(s"[graftbench] table holds $tableRows rows, generator produced ${stored.size} OK scrapes")
      ok(ok.size - 1) = false
    }
    val failed = ok.count(!_).toLong
    val snap = pipe.table.snapshot()
    val liveBytes = snap.dataFiles.map(_.bytes).sum.toDouble
    val l = ctx.layers
    def plain(xs: Seq[(Double, Boolean)]) = xs.filterNot(_._2).map(_._1)
    l.update("streaming.commit_p50_s", Stats.percentile(plain(commits.toSeq), 50))
    l.update("streaming.commit_p90_s", Stats.percentile(plain(commits.toSeq), 90))
    l.update("storage.read_p50_s", Stats.percentile(plain(reads.toSeq), 50))
    l.update("storage.read_p90_s", Stats.percentile(plain(reads.toSeq), 90))
    l.update("storage.log_versions", snap.nextVersion.toDouble)
    l.update("storage.live_parts", snap.dataFiles.size.toDouble)
    l.update("storage.stored_bytes_per_input_byte", liveBytes / payloadBytes)
    l.update("storage.bytes_written", (fs1._3 - fs0._3).toDouble / measured)
    l.update("storage.write_amp", (fs1._3 - fs0._3) / liveBytes)
    l.update("storage.fs_list_calls", (fs1._1 - fs0._1).toDouble / measured)
    l.update("storage.fs_create_calls", (fs1._2 - fs0._2).toDouble / measured)
    if (ctx.traceMode) {
      pipe.tracedLayers()
      l.update("trace.overhead_s",
        Stats.median(opS.filter(_._2).map(_._1).toSeq) - Stats.median(plain(opS.toSeq)))
    }
    val n = plain(commits.toSeq).size
    // elapsed: the time spent in ticks; the generator and the checks
    // between ticks are the benchmark's own
    RunResult(measured.toLong, failed, opS.map(_._1).sum, plain(opS.toSeq), Seq(
      ("ticks", measured.toDouble, "count", measured),
      ("flush_share", flushes.toDouble / (measured * phases), "ratio", measured * phases),
      ("commit_p50_s", Stats.percentile(plain(commits.toSeq), 50), "s", n),
      ("commit_p90_s", Stats.percentile(plain(commits.toSeq), 90), "s", n),
      ("read_p50_s", Stats.percentile(plain(reads.toSeq), 50), "s", 2 * n),
      ("read_p90_s", Stats.percentile(plain(reads.toSeq), 90), "s", 2 * n),
      ("stored_bytes_per_input_byte", liveBytes / payloadBytes, "ratio", 1)), l)
  }

  /** One live table fed by one streaming query. */
  private final class Pipeline(ctx: Ctx, root: Path) {
    private val spark = ctx.spark
    private val tr = ctx.tracer
    import spark.implicits._
    val table = new FactTable(root.resolve("table").toString, spark)
    // reference Buffer thresholds (100 rows, 10 KiB); no age flush
    private val sink = new BufferedFactSink(table, maxAgeMs = Long.MaxValue / 2)
    private val mem = MemoryStream[(String, String, Double, java.sql.Timestamp)](spark)
    @volatile private var tracedOp = -1L
    private val batchIds = mutable.ArrayBuffer[Long]()
    private var rowsIn, rowsOut, flushCount, tracedTicks, batches = 0L
    private var version = table.snapshot().nextVersion
    private val snapshotS, parseS, addS, setupS, keptRatio = mutable.ArrayBuffer[Double]()

    private val query = DocsisStream.parseStream(
        mem.toDF().toDF("payload", "modem_name", "scrape_latency", "timestamp"))
      .writeStream
      .option("checkpointLocation", root.resolve("checkpoint").toString)
      .foreachBatch((df: DataFrame, id: Long) => addBatch(df, id))
      .start()

    private def addBatch(df: DataFrame, id: Long): Unit = tr.inGroup("commit") {
      val op = tracedOp
      if (op < 0) sink.addBatch(df, id)
      else {
        // materialize the parsed batch first, so parse and commit time separate
        val t0 = System.nanoTime()
        val parsed = tr.span("sources.parse", op, "streaming.commit") {
          val p = df.persist(); rowsOut += p.count(); p
        }
        val t1 = System.nanoTime()
        tr.span("storage.add_batch", op, "streaming.commit")(sink.addBatch(parsed, id))
        val t2 = System.nanoTime()
        parsed.unpersist()
        parseS += (t1 - t0) / 1e9; addS += (t2 - t1) / 1e9
        batchIds.synchronized(batchIds += id)
      }
    }

    /** Hand one tick to the stream, one micro-batch per phase; returns
      * when the last commit is visible.
      */
    def commit(tick: Tick, traced: Boolean, op: Long): Unit = {
      tracedOp = -1L
      if (traced) {
        tracedOp = op
        tracedTicks += 1
        rowsIn += tick.scrapes.size
      }
      val hand = () => tick.batches.foreach { b =>
        mem.addData(b.map(s => (s.payload, s.modem, s.latency, s.ts)))
        query.processAllAvailable()
        batches += 1
      }
      if (traced) tr.span("streaming.commit", tracedOp, "op")(hand()) else hand()
      tracedOp = -1L
    }

    /** Buffer flushes since the last call: every micro-batch appends one
      * log version, every flush one more.
      */
    def flushes(traced: Boolean, op: Long): Int = {
      val t = System.nanoTime()
      val snap = if (traced) tr.span("storage.snapshot", op)(table.snapshot()) else table.snapshot()
      val f = (snap.nextVersion - version - batches).toInt
      version = snap.nextVersion
      batches = 0
      if (traced) {
        snapshotS += (System.nanoTime() - t) / 1e9
        flushCount += f
      }
      f
    }

    /** dx06-shape buckets: per channel and 10 minutes, min and sum of SNR
      * in tenths and the uncorrected-error increase, guarded against
      * counter resets; only samples at or after `fromMs`.
      */
    def windowRead(fromMs: Long, traced: Boolean, op: Long): Map[BucketKey, BucketVal] = {
      val cond = col("timestamp") >= lit(new java.sql.Timestamp(fromMs))
      if (traced) {
        val (kept, total) = table.pruneReport(cond)
        keptRatio += kept.toDouble / math.max(1, total)
      }
      val w = Window.partitionBy($"modem_name", $"channel_id").orderBy($"timestamp")
      read(traced, op) {
        table.readWhere(cond)
          .select($"modem_name", $"timestamp", explode($"downstream_channels").as("ch"))
          .select($"modem_name", $"timestamp", $"ch.channel_id".as("channel_id"),
            round($"ch.snr" * 10).cast("long").as("snr_x10"),
            $"ch.uncorrected_errors".as("u"))
          .withColumn("d", $"u" - lag($"u", 1).over(w))
          .withColumn("d", when($"d" < 0L, lit(null)).otherwise($"d"))
          .groupBy(window($"timestamp", "10 minutes").getField("start").as("bucket"),
            $"modem_name", $"channel_id")
          .agg(min($"snr_x10"), sum($"snr_x10"), sum($"d"), count(lit(1)))
      }.map(r => (r.getTimestamp(0).getTime, r.getString(1), r.getInt(2)) ->
        ((r.getLong(3), r.getLong(4), Option(r.get(5)).map(_.asInstanceOf[Long]), r.getLong(6))))
        .toMap
    }

    /** One modem's panel over its scrapes at or after `fromMs`. */
    def panelRead(modem: String, fromMs: Long, traced: Boolean,
        op: Long): (Long, Long, Long, Long, Long) = {
      val r = read(traced, op) {
        table.readWhere($"modem_name" === modem &&
          $"timestamp" >= lit(new java.sql.Timestamp(fromMs)))
          .agg(count(lit(1)), coalesce(sum($"modem_uptime"), lit(0L)),
            max($"timestamp"), coalesce(sum(size($"downstream_channels")), lit(0L)),
            coalesce(sum(size($"upstream_channels")), lit(0L)))
      }.head
      (r.getLong(0), r.getLong(1), Option(r.getTimestamp(2)).map(_.getTime).getOrElse(0L),
        r.getLong(3), r.getLong(4))
    }

    /** Read-side layers: `readWhere` (snapshot + pruning), planning, then
      * the action.
      */
    private def read(traced: Boolean, op: Long)(build: => DataFrame): Array[org.apache.spark.sql.Row] =
      if (!traced) tr.inGroup("read")(build.collect())
      else tr.inGroup("read.traced")(tr.span("dashboard.read", op, "op") {
        val t0 = System.nanoTime()
        val df = tr.span("storage.read_setup", op, "dashboard.read")(build)
        setupS += (System.nanoTime() - t0) / 1e9
        tr.span("plans.plan", op, "dashboard.read")(df.queryExecution.executedPlan)
        tr.span("exec.run", op, "dashboard.read")(df.collect())
      })

    def stop(): Unit = { query.stop(); query.awaitTermination(60000) }

    /** Per-layer metrics of the traced ticks (per-tick means). */
    def tracedLayers(): Unit = {
      val l = ctx.layers
      val n = math.max(1L, tracedTicks).toDouble
      val mine = batchIds.toSet
      val progress = tr.batchProgress().collect { case (id, p) if mine.contains(id) => p }
      def phase(k: String*) = progress.map(p => k.map(p.getOrElse(_, 0L)).sum).sum / 1e3 / n
      l.update("streaming.trigger_s", phase("triggerExecution"))
      l.update("streaming.overhead_s", phase("triggerExecution") - phase("addBatch"))
      l.update("streaming.planning_s", phase("queryPlanning"))
      l.update("streaming.wal_commit_s", phase("walCommit", "commitOffsets"))
      l.update("sources.parse_s", parseS.sum / n)
      l.update("sources.rows_in", rowsIn.toDouble)
      l.update("sources.rows_out", rowsOut.toDouble)
      l.update("sources.ok_ratio", rowsOut.toDouble / math.max(1L, rowsIn))
      l.update("storage.add_batch_s", addS.sum / n)
      l.update("storage.flushes", flushCount.toDouble)
      l.update("storage.snapshot_s", snapshotS.sum / n)
      l.update("storage.read_setup_s", setupS.sum / math.max(1, setupS.size))
      l.update("storage.parts_kept_ratio", keptRatio.sum / math.max(1, keptRatio.size))
      val spans = tr.allSpans
      val reads = spans.filter(_.parent == "dashboard.read")
      def total(name: String) = reads.filter(_.name == name).map(_.seconds).sum
      l.update("plans.plan_s", total("plans.plan") / n)
      l.update("exec.s", total("exec.run") / n)
      val exec = tr.jobTotals().getOrElse("read.traced", new JobTotals)
      l.update("exec.jobs", exec.jobs / n)
      l.update("exec.tasks", exec.tasks / n)
      l.update("exec.executor_run_s", exec.runMs / 1e3 / n)
      l.update("exec.core_util", exec.runMs / 1e3 / (total("exec.run") * ctx.cores))
      l.update("exec.shuffle_bytes", exec.shuffleBytes / n)
      l.update("exec.spill_bytes", exec.spillBytes / n)
      l.update("exec.gc_s", exec.gcMs / 1e3 / n)
      val readTotal = reads.map(_.seconds).sum
      l.update("plans.plan_share", if (readTotal > 0) total("plans.plan") / readTotal else 0.0)
    }
  }
}
