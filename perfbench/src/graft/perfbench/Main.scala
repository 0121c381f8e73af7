package graft.perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** Bench settings parsed from the command line (see perfbench/run.py). */
final case class Args(workload: String, seed: Long, seconds: Double,
    trace: Boolean, data: String, work: Path, out: Path, inject: String,
    scale: String) {
  def tiny: Boolean = scale == "tiny"
}

/** One session builder for every workload: `local[nproc]` with shuffle
  * partitions = nproc plus the SQL settings the suite relies on.
  */
object BenchSession {
  def conf(nproc: Int, work: Path): Seq[(String, String)] = Seq(
    "spark.master" -> s"local[$nproc]",
    "spark.app.name" -> "graft-perfbench",
    "spark.sql.shuffle.partitions" -> nproc.toString,
    "spark.sql.session.timeZone" -> "UTC",
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    "spark.sql.codegen.maxFields" -> "300",
    "spark.sql.extensions" -> "graft.sql.GraftSparkExtensions",
    "spark.sql.adaptive.coalescePartitions.minPartitionSize" -> "1m",
    "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning" -> "true",
    "spark.ui.enabled" -> "false",
    "spark.local.dir" -> work.resolve("spark-local").toString,
    "spark.sql.warehouse.dir" -> work.resolve("warehouse").toString)

  def build(nproc: Int, work: Path): SparkSession = {
    val b = SparkSession.builder()
    conf(nproc, work).foreach { case (k, v) => b.config(k, v) }
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }
}

object Main {
  private def parse(argv: Array[String]): Args = {
    val kv = argv.grouped(2).collect { case Array(k, v) =>
      k.stripPrefix("--") -> v }.toMap
    def need(k: String) = kv.getOrElse(k, sys.error(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toDouble,
      need("trace") == "1", need("data"), Paths.get(need("work")),
      Paths.get(need("out")), kv.getOrElse("inject", "none"),
      kv.getOrElse("scale", "full"))
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val jvmStartS = ManagementFactory.getRuntimeMXBean.getUptime / 1e3
    val nproc = Runtime.getRuntime.availableProcessors()
    Files.createDirectories(a.work)
    val t0 = System.nanoTime()
    val spark = BenchSession.build(nproc, a.work)
    val sessionS = (System.nanoTime() - t0) / 1e9
    val tracer = new Tracer
    val probe = new JobProbe
    val ctx = Ctx(spark, a, tracer, probe, jvmStartS + sessionS)
    val outcome =
      try a.workload match {
        case "pipeline" => Pipeline.run(ctx)
        case "table" => TableBench.run(ctx)
        case w => sys.error(s"unknown workload: $w")
      } finally {
        if (a.trace) tracer.write(a.out.resolveSibling("spans.jsonl"))
      }
    outcome.metrics.put("setup.session_s", jvmStartS + sessionS, "s")
    // used heap after a full collection at the end of the run: the least
    // of three collections, so cleanup still queued behind the first
    // (Spark's context cleaner) does not count
    val memBean = ManagementFactory.getMemoryMXBean
    val used = (1 to 3).map { _ =>
      System.gc(); Thread.sleep(300); memBean.getHeapMemoryUsage.getUsed
    }.min
    val mem = memBean.getHeapMemoryUsage
    outcome.metrics.put("heap_retained_mb", used / 1048576.0, "MB")
    val stamp = Seq(
      "nproc" -> nproc.toString,
      "max_heap_mb" -> (mem.getMax / 1048576).toString,
      "git_sha" -> sys.env.getOrElse("PERFBENCH_GIT_SHA", "unknown"),
      "java" -> System.getProperty("java.version"),
      "spark" -> spark.version) ++
      BenchSession.conf(nproc, a.work).filterNot(_._1.endsWith(".dir"))
    def js(s: String) = "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"")
      .replace("\n", "\\n").replace("\r", "\\r").replace("\t", "\\t") + "\""
    val record =
      s"""{"workload":${js(a.workload)},"seed":${a.seed},"trace":${a.trace},""" +
        s""""attempted":${outcome.attempted},"failed":${outcome.failed},""" +
        s""""stamp":${stamp.map { case (k, v) => js(k) + ":" + js(v) }.mkString("{", ",", "}")},""" +
        s""""notes":${outcome.notes.map(js).mkString("[", ",", "]")},""" +
        s""""metrics":${outcome.metrics.toJson}}"""
    Files.write(a.out, Seq(record).asJava)
    spark.stop()
  }
}

/** What every workload gets: the session, its arguments and the probes. */
final case class Ctx(spark: SparkSession, args: Args, tracer: Tracer,
    probe: JobProbe, sessionS: Double) {
  /** Turn the probes on (spans, store counters and the job listener);
    * returns the mark spans recorded from now on start at or after.
    */
  def startTracing(): Long = {
    tracer.on.set(true)
    spark.sparkContext.addSparkListener(probe)
    System.nanoTime()
  }
  def stopTracing(): Unit = {
    tracer.on.set(false)
    spark.sparkContext.removeSparkListener(probe)
  }
  def drain(): Unit = org.apache.spark.perfbenchshim.Bus.drain(spark.sparkContext)
}
