package graftbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FileStatus, LocalFileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable
import org.apache.spark.BenchAccess
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener

/** The local file system with list/create call counters. Hadoop's own
  * statistics for `file:` count bytes only, so the benchmark installs
  * this class as `fs.file.impl`; every reader and writer in the process
  * (FactTable, parquet scans and writes, streaming checkpoints) goes
  * through it unchanged.
  */
class CountingLocalFileSystem extends LocalFileSystem {
  override def listStatus(p: Path): Array[FileStatus] = {
    FsCounters.lists.incrementAndGet(); super.listStatus(p)
  }
  override def create(p: Path, perm: FsPermission, overwrite: Boolean,
      bufferSize: Int, replication: Short, blockSize: Long,
      progress: Progressable): org.apache.hadoop.fs.FSDataOutputStream = {
    FsCounters.creates.incrementAndGet()
    super.create(p, perm, overwrite, bufferSize, replication, blockSize, progress)
  }
}

object FsCounters {
  val lists = new AtomicLong()
  val creates = new AtomicLong()
  def bytesWritten: Long =
    Option(org.apache.hadoop.fs.FileSystem.getGlobalStorageStatistics.get("file"))
      .flatMap(s => Option(s.getLong("bytesWritten"))).map(_.longValue).getOrElse(0L)
  /** (list calls, create calls, bytes written) so far. */
  def read(): (Long, Long, Long) = (lists.get(), creates.get(), bytesWritten)
}

/** Task-level totals of the jobs one job group submitted. */
final class JobTotals {
  var jobs = 0L; var tasks = 0L; var runMs = 0L
  var shuffleBytes = 0L; var spillBytes = 0L; var gcMs = 0L
  def +=(o: JobTotals): Unit = {
    jobs += o.jobs; tasks += o.tasks; runMs += o.runMs
    shuffleBytes += o.shuffleBytes; spillBytes += o.spillBytes; gcMs += o.gcMs
  }
  def copy(): JobTotals = { val c = new JobTotals; c += this; c }
  def minus(o: JobTotals): JobTotals = {
    val c = copy()
    c.jobs -= o.jobs; c.tasks -= o.tasks; c.runMs -= o.runMs
    c.shuffleBytes -= o.shuffleBytes; c.spillBytes -= o.spillBytes; c.gcMs -= o.gcMs
    c
  }
}

/** One timed interval at a layer boundary. Spans of one operation share
  * `op`; `parent` names the enclosing span (empty at the top).
  */
final case class Span(name: String, op: Long, parent: String,
    startNs: Long, endNs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** The benchmark's instruments, attached from outside the engine:
  *  - a SparkListener that attributes every job to the job group the
  *    benchmark set around the call that submitted it (build, plan,
  *    exec, ...), with task counts, executor run time, shuffle, spill
  *    and GC time;
  *  - a StreamingQueryListener keeping each non-empty micro-batch's
  *    `durationMs` phases;
  *  - in-memory spans, written out once when the run ends.
  */
final class Tracer(spark: SparkSession) {
  import Tracer.{GroupKey, schemaJob}
  private val sc = spark.sparkContext
  private val stageGroup = new ConcurrentHashMap[Int, String]()
  private val byGroup = new ConcurrentHashMap[String, JobTotals]()
  private val progress = mutable.ArrayBuffer[(Long, Map[String, Long])]()
  private val spans = mutable.ArrayBuffer[Span]()

  private val jobListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val g0 = Option(e.properties).flatMap(p => Option(p.getProperty(GroupKey)))
        .getOrElse("other")
      val g = if (schemaJob(e)) s"$g0:schema" else g0
      e.stageIds.foreach(stageGroup.put(_, g))
      totals(g).jobs += 1
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Option(e.taskMetrics).foreach { m =>
        val t = totals(Option(stageGroup.get(e.stageId)).getOrElse("other"))
        t.tasks += 1
        t.runMs += m.executorRunTime
        t.shuffleBytes += m.shuffleReadMetrics.totalBytesRead +
          m.shuffleWriteMetrics.bytesWritten
        t.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        t.gcMs += m.jvmGCTime
      }
  }
  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      if (e.progress.numInputRows > 0) progress.synchronized {
        progress += (e.progress.batchId ->
          e.progress.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap)
      }
  }
  sc.addSparkListener(jobListener)
  spark.streams.addListener(streamListener)

  // listener-bus thread is the only writer; readers drain first
  private def totals(g: String): JobTotals = byGroup.computeIfAbsent(g, _ => new JobTotals)

  /** Run `body` with every job it submits on this thread attributed to
    * `group`, restoring the thread's previous group afterwards.
    */
  def inGroup[T](group: String)(body: => T): T = {
    val prev = sc.getLocalProperty(GroupKey)
    sc.setLocalProperty(GroupKey, group)
    try body finally sc.setLocalProperty(GroupKey, prev)
  }

  /** Copies of the per-group totals after every posted event landed. */
  def jobTotals(): Map[String, JobTotals] = {
    BenchAccess.drainListeners(sc)
    byGroup.asScala.map { case (k, v) => k -> v.copy() }.toMap
  }

  /** (batch id, progress phases) of every non-empty micro-batch so far. */
  def batchProgress(): Seq[(Long, Map[String, Long])] = {
    BenchAccess.drainListeners(sc)
    progress.synchronized(progress.toList)
  }

  def span[T](name: String, op: Long, parent: String = "")(body: => T): T = {
    val t0 = System.nanoTime()
    try body finally {
      val t1 = System.nanoTime()
      spans.synchronized(spans += Span(name, op, parent, t0, t1))
    }
  }

  def allSpans: Seq[Span] = spans.synchronized(spans.toList)

  /** Self time per span name: its duration minus the part of it covered
    * by child spans of the same operation.
    */
  def selfSeconds(): Map[String, Double] = {
    val all = allSpans
    val children = all.groupBy(s => (s.op, s.parent))
    all.groupBy(_.name).map { case (name, ss) =>
      name -> ss.map { s =>
        val covered = children.getOrElse((s.op, s.name), Nil)
          .map(c => math.min(c.endNs, s.endNs) - math.max(c.startNs, s.startNs))
          .filter(_ > 0).sum
        (s.endNs - s.startNs - covered) / 1e9
      }.sum
    }
  }

  def writeSpans(path: java.nio.file.Path): Unit = {
    java.nio.file.Files.createDirectories(path.getParent)
    val lines = allSpans.map(s =>
      s"""{"name":"${s.name}","op":${s.op},"parent":"${s.parent}",""" +
        s""""start_ns":${s.startNs},"end_ns":${s.endNs}}""")
    java.nio.file.Files.write(path, lines.asJava)
  }
}

object Tracer {
  private val GroupKey = "spark.jobGroup.id"
  private val ReaderCall = "^(parquet|load|json|csv|orc|text|table) at .*".r

  /** The footer read `spark.read.<format>` runs to infer a schema: one
    * stage over a parallelized file list, outside any SQL execution. It
    * is read set-up, not an eager build job, so it is kept apart from its
    * group's jobs (as `<group>:schema`).
    */
  def schemaJob(e: SparkListenerJobStart): Boolean =
    Option(e.properties).forall(_.getProperty("spark.sql.execution.id") == null) &&
      e.stageInfos.size == 1 &&
      ReaderCall.matches(e.stageInfos.head.name) &&
      e.stageInfos.head.rddInfos.flatMap(_.scope.map(_.name)).toSet ==
        Set("parallelize", "mapPartitions")
}
