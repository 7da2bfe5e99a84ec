package perfbench

import graft.sources.{TableCatalog, TableIO}
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong
import scala.jdk.CollectionConverters._

/** Wall clock in epoch milliseconds with sub-millisecond resolution, on the
  * same scale as the timestamps Spark puts on listener events. */
object Clock {
  private val epoch0 = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()
  def nowMs: Double = epoch0 + (System.nanoTime() - nano0) / 1e6
}

/** One timed interval at a layer boundary. `parent` is 0 for a root span. */
final case class Span(id: Long, parent: Long, name: String, startMs: Double, endMs: Double,
                      attrs: Map[String, Double]) {
  def durMs: Double = endMs - startMs
}

/** In-memory span store; spans are written out once, at the end of a run. */
final class Tracer {
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val ids = new AtomicLong()
  private val current = new ThreadLocal[Long] { override def initialValue(): Long = 0L }

  def span[A](name: String, attrs: Map[String, Double] = Map.empty)(f: => A): A = {
    val id = ids.incrementAndGet()
    val parent = current.get()
    current.set(id)
    val t0 = Clock.nowMs
    try f
    finally {
      spans.add(Span(id, parent, name, t0, Clock.nowMs, attrs))
      current.set(parent)
    }
  }

  /** Records an interval measured elsewhere (e.g. a Spark job). */
  def add(name: String, parent: Long, startMs: Double, endMs: Double,
          attrs: Map[String, Double] = Map.empty): Unit =
    spans.add(Span(ids.incrementAndGet(), parent, name, startMs, endMs, attrs))

  def all: Vector[Span] = spans.asScala.toVector.sortBy(_.startMs)
  def named(name: String): Vector[Span] = all.filter(_.name == name)

  /** A span's duration minus the part of it its children cover. */
  def selfMs(s: Span, within: Vector[Span]): Double =
    s.durMs - Stats.unionMs(within.filter(_.parent == s.id).map(c => (c.startMs, c.endMs)))

  /** Spans recorded without a parent (Spark jobs, intervals measured
    * elsewhere, storage calls made from another span's thread) get the
    * shortest span that contains them as their parent. */
  private def nested: Vector[Span] = {
    val sorted = all
    sorted.map { s =>
      if (s.parent != 0) s
      else sorted.filter(p => p.id != s.id && p.startMs <= s.startMs && p.endMs >= s.endMs &&
          (p.durMs > s.durMs || p.id < s.id))
        .sortBy(_.durMs).headOption.fold(s)(p => s.copy(parent = p.id))
    }
  }

  def writeJsonLines(path: java.nio.file.Path): Unit = {
    val sorted = nested
    val lines = sorted.map { s =>
      val attrs = s.attrs.map { case (k, v) => s""""$k":${Json.num(v)}""" }.mkString(",")
      s"""{"id":${s.id},"parent":${s.parent},"name":${Json.str(s.name)},""" +
        s""""start_ms":${Json.num(s.startMs)},"end_ms":${Json.num(s.endMs)},""" +
        s""""self_ms":${Json.num(selfMs(s, sorted))},"attrs":{$attrs}}"""
    }
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.write(path, lines.asJava)
  }
}

/** Metrics of one Spark job, summed over the stages it ran. */
final case class JobRecord(
    jobId: Int, description: String, startMs: Double, endMs: Double,
    stages: Int, taskMs: Double, inputBytes: Double, shuffleReadBytes: Double,
    shuffleWriteBytes: Double, outputBytes: Double, gcMs: Double, spillBytes: Double)

/**
 * Groups Spark jobs, and the stages they ran, by the job description the
 * caller set (`crawl round=N …` inside the crawl loop, `[req id] uri` in an
 * HTTP handler). Everything stays in memory; nothing is printed.
 */
final class JobCollector extends SparkListener {
  private final class Acc(val jobId: Int, val description: String, val startMs: Double) {
    @volatile var endMs: Double = Double.NaN
    var stages, taskMs, input, shRead, shWrite, output, gc, spill = 0.0
  }
  private val jobs = new java.util.concurrent.ConcurrentHashMap[Int, Acc]()
  private val stageJob = new java.util.concurrent.ConcurrentHashMap[Int, Int]()
  @volatile private var lastEventMs = Clock.nowMs

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val desc = Option(e.properties).flatMap(p =>
      Option(p.getProperty("spark.job.description"))).getOrElse("")
    jobs.put(e.jobId, new Acc(e.jobId, desc, e.time.toDouble))
    e.stageIds.foreach(s => stageJob.putIfAbsent(s, e.jobId))
    lastEventMs = Clock.nowMs
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val si = e.stageInfo
    Option(stageJob.get(si.stageId)).flatMap(j => Option(jobs.get(j))).foreach { a =>
      val m = si.taskMetrics
      a.synchronized {
        a.stages += 1
        if (m != null) {
          a.taskMs += m.executorRunTime
          a.input += m.inputMetrics.bytesRead
          a.shRead += m.shuffleReadMetrics.totalBytesRead
          a.shWrite += m.shuffleWriteMetrics.bytesWritten
          a.output += m.outputMetrics.bytesWritten
          a.gc += m.jvmGCTime
          a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        }
      }
    }
    lastEventMs = Clock.nowMs
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    Option(jobs.get(e.jobId)).foreach(_.endMs = e.time.toDouble)
    lastEventMs = Clock.nowMs
  }

  /** Waits until every started job has ended and the bus has been quiet
    * for a moment, so a finished operation's events are all counted. */
  def drain(maxWaitMs: Long = 5000): Unit = {
    val deadline = Clock.nowMs + maxWaitMs
    while (Clock.nowMs < deadline &&
      (jobs.values.asScala.exists(_.endMs.isNaN) || Clock.nowMs - lastEventMs < 150))
      Thread.sleep(20)
  }

  def records: Vector[JobRecord] = jobs.values.asScala.toVector.sortBy(_.jobId).map { a =>
    a.synchronized {
      JobRecord(a.jobId, a.description, a.startMs, if (a.endMs.isNaN) a.startMs else a.endMs,
        a.stages.toInt, a.taskMs, a.input, a.shRead, a.shWrite, a.output, a.gc, a.spill)
    }
  }
}

/**
 * A delegating [[TableCatalog]] that records a span around every call into
 * the storage layer and otherwise forwards to [[TableIO]] unchanged:
 * `readTables` goes to TableIO's single multi-path scan, not the trait's
 * union default, and `counters` is forwarded unevaluated.
 */
final class TracingCatalog(tracer: Tracer) extends TableCatalog {
  import TableIO.Snapshot

  override def commit(
      spark: SparkSession,
      dir: String,
      round: Int,
      tables: Map[String, DataFrame],
      seeds: Seq[String],
      counters: => Map[String, Long],
      partitionBy: Map[String, Seq[String]],
      failures: Map[String, String]
  ): Snapshot = {
    val snap = tracer.span("table_io.commit", Map("round" -> round.toDouble)) {
      TableIO.commit(spark, dir, round, tables, seeds, counters, partitionBy, failures)
    }
    // outside the span: what the commit left on disk
    val (files, bytes) = snap.tables.values.map(p => Stats.parquetFiles(p)).fold((0L, 0L)) {
      case ((f1, b1), (f2, b2)) => (f1 + f2, b1 + b2)
    }
    tracer.add("table_io.commit_files", 0, Clock.nowMs, Clock.nowMs,
      Map("round" -> round.toDouble, "files" -> files.toDouble, "bytes" -> bytes.toDouble))
    snap
  }

  override def latestRound(dir: String): Option[Int] =
    tracer.span("table_io.latest_round")(TableIO.latestRound(dir))

  override def readSnapshot(dir: String, round: Int): Snapshot =
    tracer.span("table_io.read_snapshot")(TableIO.readSnapshot(dir, round))

  override def readTable(spark: SparkSession, snap: Snapshot, name: String): DataFrame =
    tracer.span("table_io.read_table")(TableIO.readTable(spark, snap, name))

  override def readTables(spark: SparkSession, snaps: Seq[Snapshot], name: String): DataFrame =
    tracer.span("table_io.read_tables")(TableIO.readTables(spark, snaps, name))
}
