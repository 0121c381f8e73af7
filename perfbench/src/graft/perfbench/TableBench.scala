package graft.perfbench

/** The table-store workload: a write phase (two writers on one shared
  * table) and then a read phase (two readers and an open-loop appender on
  * a second, pruning-friendly table), each for half the run. Both tables
  * are set up before either phase starts. End-to-end figures pool the
  * operations of both phases; `write.*` and `read.*` keep them apart.
  */
object TableBench {
  def run(ctx: Ctx): Outcome = {
    val t0 = System.nanoTime()
    val w = TableWrite.prepare(ctx)
    val r = TableRead.prepare(ctx)
    val setupS = (System.nanoTime() - t0) / 1e9
    val half = ctx.args.seconds / 2
    val ow = w(half)
    val or = r(half)
    val m = new Metrics
    // per-layer figures of both phases; additive ones are summed
    (ow.metrics.entries ++ or.metrics.entries).groupBy(_._1).toSeq
      .sortBy(_._1).foreach { case (name, xs) =>
        val (v, unit) =
          if (xs.size == 1 || !Set("count", "ms", "bytes")(xs.head._3))
            (xs.map(_._2).sum / xs.size, xs.head._3)
          else (xs.map(_._2).sum, xs.head._3)
        m.put(name, v, unit)
      }
    val all = ow.latencies ++ or.latencies
    val secs = ow.latencies.size / ow.metrics.get("write.ops_per_s").get +
      or.latencies.size / or.metrics.get("read.ops_per_s").get
    m.put("ops_per_s", all.size / secs, "1/s")
    m.put("p50_ms", Stats.median(all), "ms")
    m.put("p80_ms", Stats.quantile(all, 0.8), "ms")
    m.put("geomean_ms", Stats.geomean(all), "ms")
    m.put("samples", all.size.toDouble, "count")
    m.put("setup.fixtures_s", setupS, "s")
    m.put("setup_s", ctx.sessionS + setupS, "s")
    Outcome(ow.attempted + or.attempted, ow.failed + or.failed, m,
      ow.notes ++ or.notes, all)
  }
}
