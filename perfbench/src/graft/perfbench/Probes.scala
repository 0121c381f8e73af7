package graft.perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.{AtomicBoolean, AtomicLong}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import graft.store.ObjectStore
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** Spans recorded by the bench around its own calls into graft. A span
  * carries a name, start and end (ns), the span that caused it and a
  * request id; spans are kept in memory and written out when the run ends.
  * With tracing off, `span` runs the body and records nothing.
  */
final class Tracer {
  final case class Span(id: Long, parent: Long, req: Long, name: String,
      startNs: Long, endNs: Long)
  val on = new AtomicBoolean(false)
  private val ids = new AtomicLong(0)
  private val spans = new ConcurrentLinkedQueue[Span]
  private val stack = ThreadLocal.withInitial[List[Long]](() => Nil)

  def span[T](name: String, req: Long)(body: => T): T =
    if (!on.get) body
    else {
      val id = ids.incrementAndGet()
      val parents = stack.get
      stack.set(id :: parents)
      val t0 = System.nanoTime()
      try body
      finally {
        spans.add(Span(id, parents.headOption.getOrElse(0L), req, name, t0,
          System.nanoTime()))
        stack.set(parents)
      }
    }

  def all: Seq[Span] = spans.asScala.toSeq
  /** Spans of `name` that started at or after `since` (System.nanoTime). */
  def named(name: String, since: Long): Seq[Span] =
    all.filter(s => s.name == name && s.startNs >= since)
  def totalMs(name: String, since: Long = Long.MinValue): Double =
    named(name, since).map(s => (s.endNs - s.startNs) / 1e6).sum
  def count(name: String, since: Long = Long.MinValue): Long =
    named(name, since).size.toLong

  def write(path: java.nio.file.Path): Unit = {
    val lines = all.sortBy(_.startNs).map { s =>
      s"""{"id":${s.id},"parent":${s.parent},"req":${s.req},"name":"${s.name}","start_ns":${s.startNs},"end_ns":${s.endNs}}"""
    }
    java.nio.file.Files.write(path, lines.asJava)
  }
}

/** Per-verb counting decorator for the log's object store, passed to
  * GraftClient as `logStore`. Counts and times every verb; a conditional
  * put that returns false is a lost put-if-absent race.
  */
final class CountingStore(under: ObjectStore, counting: AtomicBoolean)
    extends ObjectStore {
  final class Verb {
    val n = new AtomicLong; val ns = new AtomicLong
    val bytes = new AtomicLong; val lost = new AtomicLong
  }
  val putIfAbsentV, putV, readV, listV, deleteV = new Verb
  /** Put-if-absent calls on `_log_` names: the commit attempts. */
  val logAttempts, logLost = new AtomicLong
  /** Time writing checkpoint objects, and completed checkpoints (one
    * pointer update each).
    */
  val ckptNs, checkpoints = new AtomicLong

  private def timed[T](v: Verb)(body: => T): T =
    if (!counting.get) body
    else {
      val t0 = System.nanoTime()
      try body
      finally { v.n.incrementAndGet(); v.ns.addAndGet(System.nanoTime() - t0) }
    }
  private def ckpt(name: String, ns: Long): Unit =
    if (counting.get && name.startsWith("_ckpt")) ckptNs.addAndGet(ns)

  override def putIfAbsent(name: String, data: Array[Byte]): Boolean = {
    val t0 = System.nanoTime()
    val ok = timed(putIfAbsentV)(under.putIfAbsent(name, data))
    if (counting.get) {
      if (!ok) putIfAbsentV.lost.incrementAndGet()
      if (name.startsWith("_log_")) {
        logAttempts.incrementAndGet()
        if (!ok) logLost.incrementAndGet()
      }
    }
    ckpt(name, System.nanoTime() - t0)
    ok
  }
  override def put(name: String, data: Array[Byte]): Unit = {
    val t0 = System.nanoTime()
    timed(putV)(under.put(name, data))
    if (counting.get && name == "_last_checkpoint") checkpoints.incrementAndGet()
    ckpt(name, System.nanoTime() - t0)
  }
  override def read(name: String): Array[Byte] = {
    val d = timed(readV)(under.read(name))
    if (counting.get) readV.bytes.addAndGet(d.length)
    d
  }
  override def listPrefixOrdered(prefix: String): Seq[String] =
    timed(listV)(under.listPrefixOrdered(prefix))
  override def listPrefixAfter(prefix: String, after: String): Seq[String] =
    timed(listV)(under.listPrefixAfter(prefix, after))
  override def delete(name: String): Unit = timed(deleteV)(under.delete(name))
  override def cacheKey: Option[String] = under.cacheKey

  def metrics: Seq[(String, Double, String)] = {
    def ms(v: Verb) = v.ns.get / 1e6
    Seq(
      ("store.put_if_absent.n", putIfAbsentV.n.get.toDouble, "count"),
      ("store.put_if_absent.ms", ms(putIfAbsentV), "ms"),
      ("store.put_if_absent.lost", putIfAbsentV.lost.get.toDouble, "count"),
      ("store.put.n", putV.n.get.toDouble, "count"),
      ("store.put.ms", ms(putV), "ms"),
      ("store.read.n", readV.n.get.toDouble, "count"),
      ("store.read.ms", ms(readV), "ms"),
      ("store.read.bytes", readV.bytes.get.toDouble, "bytes"),
      ("store.list.n", listV.n.get.toDouble, "count"),
      ("store.list.ms", ms(listV), "ms"),
      ("store.delete.n", deleteV.n.get.toDouble, "count"),
      ("store.delete.ms", ms(deleteV), "ms"))
  }
}

/** Job, stage and task totals from a SparkListener. Jobs are attributed
  * to the `perfbench.role` local property of the thread that started them
  * (pipeline / read / write / append), so concurrent clients of one
  * session stay apart.
  */
final class JobProbe extends SparkListener {
  final class Totals {
    var jobs, stages, tasks, cpuNs, runMs, shuffleWrite, spill = 0L
  }
  private val byRole = mutable.Map[String, Totals]()
  private val jobRole = mutable.Map[Int, String]()
  private val stageRole = mutable.Map[Int, String]()
  /** (start ms, end ms) of every finished job, by role. */
  private val intervals = mutable.Map[String, mutable.ArrayBuffer[(Long, Long)]]()
  private val jobStart = mutable.Map[Int, Long]()

  private def totals(role: String) = byRole.getOrElseUpdate(role, new Totals)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val role = Option(e.properties).flatMap(p =>
      Option(p.getProperty(JobProbe.RoleKey))).getOrElse("other")
    jobRole(e.jobId) = role
    jobStart(e.jobId) = e.time
    e.stageIds.foreach(stageRole(_) = role)
    totals(role).jobs += 1
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    val role = jobRole.getOrElse(e.jobId, "other")
    intervals.getOrElseUpdate(role, mutable.ArrayBuffer()) +=
      (jobStart.getOrElse(e.jobId, e.time) -> e.time)
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized {
      val i = e.stageInfo
      val t = totals(stageRole.getOrElse(i.stageId, "other"))
      val m = i.taskMetrics
      t.stages += 1
      t.tasks += i.numTasks
      if (m != null) {
        t.cpuNs += m.executorCpuTime
        t.runMs += m.executorRunTime
        t.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        t.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }

  def snapshot(role: String): (Long, Long, Long, Long, Long, Long, Long) =
    synchronized {
      val t = totals(role)
      (t.jobs, t.stages, t.tasks, t.cpuNs, t.runMs, t.shuffleWrite, t.spill)
    }
  /** Milliseconds of [from, to] covered by no job of `role`. */
  def gapMs(role: String, from: Long, to: Long): Long = synchronized {
    val iv = intervals.getOrElse(role, mutable.ArrayBuffer())
      .map { case (a, b) => (math.max(a, from), math.min(b, to)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0L
    var end = from
    iv.foreach { case (a, b) =>
      if (b > end) { covered += b - math.max(a, end); end = b }
    }
    math.max(0L, (to - from) - covered)
  }
}

object JobProbe {
  val RoleKey = "perfbench.role"
  def role(spark: SparkSession, r: String): Unit =
    spark.sparkContext.setLocalProperty(RoleKey, r)
}

/** Hadoop FileSystem statistics of the data plane (scheme `file`). */
object FsStats {
  def snapshot(): (Long, Long, Long, Long) = {
    val all = org.apache.hadoop.fs.FileSystem.getAllStatistics.asScala
    all.foldLeft((0L, 0L, 0L, 0L)) { case ((w, r, ro, wo), s) =>
      (w + s.getBytesWritten, r + s.getBytesRead, ro + s.getReadOps,
        wo + s.getWriteOps)
    }
  }
}
