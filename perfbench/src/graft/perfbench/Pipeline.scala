package graft.perfbench

import java.nio.file.Files

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}

/** The query suite as one closed-loop client: every query of the list
  * once per pass, in an order drawn from the seed, each timed until its
  * whole result is collected on the driver. Set-up builds the shared
  * fixtures and runs one untimed pass whose results are kept for the
  * oracle compare (done by the caller in DuckDB) and as the reference
  * every timed result must match.
  */
object Pipeline {
  def family(q: String): String = {
    val f = q.takeWhile(_ != '_')
    if (f.startsWith("q")) "q" else f
  }

  /** Row rendered with floating point cut to 8 significant digits, so two
    * runs that only sum in another order still compare equal.
    */
  def render(v: Any): String = v match {
    case null => "null"
    case d: Double => if (d.isNaN) "NaN" else "%.8g".format(d)
    case f: Float => if (f.isNaN) "NaN" else "%.8g".format(f.toDouble)
    case r: Row => r.toSeq.map(render).mkString("(", ",", ")")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => render(k) + "->" + render(x) }.sorted
        .mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(render).mkString("[", ",", "]")
    case b: Array[Byte] => b.map("%02x".format(_)).mkString
    case x => x.toString
  }

  final case class Sample(q: String, ms: Double, ok: Boolean)

  /** Nominal wall time of one warm pass on a 4-core host, with slack: a
    * run of 24 s makes two passes.
    */
  val PassSeconds = 12.0

  def run(ctx: Ctx): Outcome = {
    val a = ctx.args
    val spark = ctx.spark
    val listFile = a.work.resolveSibling("pipeline_queries.txt")
    val names = Files.readAllLines(listFile).asScala
      .map(_.takeWhile(_ != '#').trim).filter(_.nonEmpty).toIndexedSeq
    val registry = graft.Registry.all.toMap
    val missing = names.filterNot(registry.contains)
    require(missing.isEmpty, s"unknown queries: ${missing.mkString(",")}")
    val sfDir = a.data
    def role(q: String) = s"pipeline.${family(q)}"
    val families = names.map(family).distinct

    val setupNotes = mutable.ArrayBuffer[String]()
    // set-up: one untimed pass, which also builds any fixture a query
    // shares; its results are the reference
    val t1 = System.nanoTime()
    val reference = mutable.Map[String, (Long, (Long, Long))]()
    val resultsDir = a.work.resolve("results")
    names.foreach { q =>
      JobProbe.role(spark, "setup")
      val f0 = System.nanoTime()
      val df = registry(q).fn(spark, sfDir)
      val rows = df.collect()
      setupNotes += f"warm $q ${(System.nanoTime() - f0) / 1e9}%.2f s"
      reference(q) = (rows.length.toLong, Stats.digest(rows.map(render)))
      if (registry(q).oracle.isDefined)
        spark.createDataFrame(rows.toSeq.asJava, df.schema).coalesce(1)
          .write.mode("overwrite").parquet(resultsDir.resolve(q).toString)
    }
    val warmS = (System.nanoTime() - t1) / 1e9
    val oracleSql = names.flatMap(q => registry(q).oracle.map(q -> _))
    Files.write(a.work.resolve("oracle_sql.tsv"), oracleSql.map {
      case (q, s) => q + "\t" + s.replace("\n", " ").replace("\t", " ") }.asJava)

    val rnd = new scala.util.Random(a.seed)
    var injected = a.inject != "wrong"
    var reqs = 0L
    val planMs = mutable.Map[String, Double]().withDefaultValue(0.0)
    val gapMs = mutable.Map[String, Double]().withDefaultValue(0.0)

    def one(q: String): Sample = {
      reqs += 1
      val req = reqs
      JobProbe.role(spark, role(q))
      val w0 = System.currentTimeMillis()
      val s0 = System.nanoTime()
      val (df, rows) = ctx.tracer.span(s"queries.$q", req) {
        val df: DataFrame = registry(q).fn(spark, sfDir)
        (df, df.collect())
      }
      val ms = (System.nanoTime() - s0) / 1e6
      val w1 = System.currentTimeMillis()
      if (ctx.tracer.on.get) {
        val phases = df.queryExecution.tracker.phases
        planMs(q) += phases.values.map(_.durationMs).sum.toDouble
        ctx.drain()
        gapMs(q) += ctx.probe.gapMs(role(q), w0, w1).toDouble
      }
      // a planted wrong result: one extra row
      val got: Seq[Row] =
        if (!injected) { injected = true; rows.toSeq :+ Row("planted") } else rows.toSeq
      val ok = reference(q) == ((got.length.toLong, Stats.digest(got.map(render))))
      Sample(q, ms, ok)
    }

    /** One whole pass in a fresh seeded order. */
    def pass(): (Seq[Sample], Double) = {
      val s0 = System.nanoTime()
      val out = rnd.shuffle(names).map(one)
      (out, (System.nanoTime() - s0) / 1e9)
    }

    // ceil(seconds / PassSeconds) passes, at least two: a fixed count, so
    // every run of a given length times the same work. A traced run
    // brackets one pass fewer, traced, with an untraced pass on each side;
    // timings come from the untraced passes, and their rate over the
    // traced passes' rate gives the tracing overhead.
    val nPasses = math.max(2, math.ceil(a.seconds / PassSeconds).toInt)
    val m = new Metrics
    val (samples, secs, checked) =
      if (!a.trace) {
        val ps = Seq.fill(nPasses)(pass())
        (ps.flatMap(_._1), ps.map(_._2).sum, ps.flatMap(_._1))
      } else {
        val u1 = pass()
        ctx.startTracing()
        val tr = Seq.fill(nPasses - 1)(pass())
        ctx.drain()
        ctx.stopTracing()
        val u2 = pass()
        val (ts, tsecs) = (tr.flatMap(_._1), tr.map(_._2).sum)
        val (us, usecs) = (u1._1 ++ u2._1, u1._2 + u2._2)
        val tn = tr.size
        m.put("trace.overhead_pct", ((us.size / usecs) / (ts.size / tsecs) - 1) * 100, "%")
        m.put("trace.ops_per_s", ts.size / tsecs, "1/s")
        def perPass(x: Double) = x / tn
        m.put("queries.plan_ms", perPass(planMs.values.sum), "ms")
        m.put("queries.driver_gap_ms", perPass(gapMs.values.sum), "ms")
        val fam = families.map(f => f -> ctx.probe.snapshot(s"pipeline.$f")).toMap
        def tot(sel: ((Long, Long, Long, Long, Long, Long, Long)) => Long) =
          fam.values.map(sel).sum.toDouble
        m.put("queries.jobs", perPass(tot(_._1)), "count")
        m.put("queries.stages", perPass(tot(_._2)), "count")
        m.put("queries.tasks", perPass(tot(_._3)), "count")
        m.put("queries.task_cpu_ms", perPass(tot(_._4) / 1e6), "ms")
        m.put("queries.task_run_ms", perPass(tot(_._5)), "ms")
        m.put("queries.shuffle_write_bytes", perPass(tot(_._6)), "bytes")
        m.put("queries.spill_bytes", perPass(tot(_._7)), "bytes")
        families.foreach { f =>
          m.put(s"queries.$f.wall_s",
            perPass(ts.filter(s => family(s.q) == f).map(_.ms).sum / 1e3), "s")
          m.put(s"queries.$f.task_cpu_ms", perPass(fam(f)._4 / 1e6), "ms")
        }
        m.put("queries.traced_passes", tn.toDouble, "count")
        (us, usecs, us ++ ts)
      }

    // Throughput and geomean take each query's best time over the untraced
    // passes, as graft.Bench does: a pass that meets a burst of host
    // contention does not count. Percentiles are over every untraced
    // execution; over the best times alone they jump whenever two queries
    // swap ranks.
    val perQuery = samples.groupBy(_.q).map { case (_, xs) => xs.map(_.ms).min }.toSeq
    val suiteS = perQuery.sum / 1e3
    val all = samples.map(_.ms)
    m.put("ops_per_s", perQuery.size / suiteS, "1/s")
    m.put("p50_ms", Stats.median(all), "ms")
    m.put("p80_ms", Stats.quantile(all, 0.8), "ms")
    m.put("geomean_ms", Stats.geomean(perQuery), "ms")
    m.put("queries.suite_s", suiteS, "s")
    m.put("queries.pass_wall_s", secs * names.size / samples.size, "s")
    m.put("setup.fixtures_s", warmS, "s")
    m.put("setup_s", ctx.sessionS + warmS, "s")
    m.put("samples", samples.size.toDouble, "count")
    val bad = checked.filterNot(_.ok)
    Outcome(checked.size.toLong, bad.size.toLong, m,
      bad.take(5).map(s => s"mismatch=${s.q}") ++ setupNotes)
  }
}
