package graft.perfbench

import java.sql.Timestamp
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import graft.table.GraftClient
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, count, lit, sum}

/** Two reader clients in a closed loop over one lineitem table laid out
  * in many objects, clustered on l_orderkey (ship dates follow order keys,
  * as in an ingest-ordered table), with a bloom on l_partkey and deletion
  * vectors on a tenth of the objects. One open-loop appender commits a
  * small batch on a seeded schedule, so readers replay new log entries.
  *
  * Appended rows use order keys, part keys and ship dates outside the base
  * table's ranges, so a read of the base ranges has one right answer at
  * every version; time-travel reads target the appended range at a
  * version the appender recorded. Every answer is checked against the
  * generator's own record, never against a second read.
  */
object TableRead {
  import StoreBench._

  final case class Sizes(rows: Long, objects: Int, dvObjects: Int,
      appendRows: Int, appendEveryMs: Long, rangeDays: Int)

  val AppendStream = 1000L
  /** Reads per round (shared by both readers) and a round's nominal wall
    * time on a 4-core host; a phase of `s` seconds runs
    * round(s / RoundSeconds) rounds, at least one.
    */
  val RoundOps = 10
  val RoundSeconds = 5.0

  /** Sets the phase up and returns its timed part, run for the given
    * seconds.
    */
  def prepare(ctx: Ctx): Double => Outcome = {
    val a = ctx.args
    val spark = ctx.spark
    import spark.implicits._
    val sz =
      if (a.tiny) Sizes(8000, 16, 2, 50, 1000, 60)
      else Sizes(40000, 40, 4, 100, 2000, 30)
    val orders = sz.rows / LineGen.LinesPerOrder
    val appendBase = orders + 1
    val seed = a.seed
    // ship dates follow the row position, with up to 20 days of jitter
    def base(i: Long): LineRow = {
      val r = LineGen.row(seed, 0, 0, i)
      val day = i * LineGen.ShipDays / sz.rows +
        java.lang.Math.floorMod(r.l_partkey * 7919L, 20L)
      r.copy(l_shipdate = new Timestamp(LineGen.ShipStartMs + day * LineGen.DayMs))
    }
    // the appender's batch j: fresh keys, parts and dates past the base
    def appended(j: Int): Seq[LineRow] = (0 until sz.appendRows).map { i =>
      val r = LineGen.row(seed, AppendStream + j, 0, i.toLong)
      r.copy(l_orderkey = appendBase + j.toLong * sz.appendRows + i,
        l_partkey = LineGen.Parts + 1 + r.l_partkey,
        l_shipdate = new Timestamp(LineGen.ShipStartMs +
          (LineGen.ShipDays + 40 + j) * LineGen.DayMs))
    }

    // DVs: two orders deleted in each of `dvObjects` evenly spread objects
    val perObject = orders / sz.objects
    val deleted: Set[Long] = (0 until sz.dvObjects).flatMap { k =>
      val o = (k.toLong * sz.objects / sz.dvObjects) * perObject + perObject / 2
      Seq(o, o + 1)
    }.toSet

    // set-up: one insert of `objects` ordered slices (one object each),
    // then the bloom registration and the deletion vectors
    val root = a.work.resolve("store_read")
    val t0 = System.nanoTime()
    val c0 = new GraftClient(spark, root.toString,
      dataObjectSize = (sz.rows / sz.objects).toInt)
    c0.newTx()
    c0.createTable(Table, LineGen.schema)
    c0.insert(Table, spark.range(0, sz.rows, 1, sz.objects).as[Long].map(base).toDF())
    c0.commitTx()
    c0.newTx()
    c0.registerBlooms(Table, Seq("l_partkey"))
    c0.commitTx()
    c0.newTx()
    c0.deleteWhereDV(Table, col("l_orderkey").isin(deleted.toSeq: _*))
    c0.commitTx()
    val layoutS = (System.nanoTime() - t0) / 1e9

    // the generator's record of the base rows live after set-up
    val t2 = System.nanoTime()
    val live = (0L until sz.rows).iterator.map(base)
      .filterNot(r => deleted(r.l_orderkey)).toArray
    val byPart = live.groupBy(_.l_partkey)
    val dayCount = new Array[Long](LineGen.ShipDays + 64)
    val dayQty = new Array[Double](LineGen.ShipDays + 64)
    live.foreach { r =>
      val d = ((r.l_shipdate.getTime - LineGen.ShipStartMs) / LineGen.DayMs).toInt
      dayCount(d) += 1; dayQty(d) += r.l_quantity
    }
    val modelS = (System.nanoTime() - t2) / 1e9

    val cat = "pbench"
    spark.conf.set(s"spark.sql.catalog.$cat", "graft.sql.GraftCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.root", root.toString)

    val readers = (0 until 2).map(_ => client(ctx, root))
    val (appender, appStore) = client(ctx, root)
    val baseVersion = appender.latestVersion
    // version -> appended batches visible at it
    val versions = new ConcurrentLinkedQueue[(Long, Int)]()
    versions.add(baseVersion -> 0)

    val lat = new ConcurrentLinkedQueue[Double]()
    val pointLat = new ConcurrentLinkedQueue[Double]()
    val attempted, failed = new AtomicLong
    // (column, key, versions recorded) of each traced point and bloom read
    val probes = new ConcurrentLinkedQueue[(String, Long, Int)]()
    val reqIds = new AtomicLong
    val lateMs, appendLat = new ConcurrentLinkedQueue[Double]()
    val wrongInjected = new java.util.concurrent.atomic.AtomicBoolean(a.inject != "wrong")
    val notes = new ConcurrentLinkedQueue[String]()

    def ts(day: Long) = new Timestamp(LineGen.ShipStartMs + day * LineGen.DayMs)
    def sameRows(got: Seq[LineRow], want: Seq[LineRow]) =
      got.size == want.size && got.toSet == want.toSet
    def project(df: DataFrame) =
      df.select(LineGen.schema.fieldNames.map(col).toIndexedSeq: _*)
    def countQty(df: DataFrame): (Long, Double) = {
      val r = df.agg(count(lit(1)), sum("l_quantity")).collect()(0)
      (r.getLong(0), if (r.isNullAt(1)) 0.0 else r.getDouble(1))
    }

    /** One round for both readers: 4 point lookups, 2 SQL ranges, 2 V1
      * ranges, a bloom probe and a time-travel read. Each draw carries the
      * seed of the operation's keys, so an operation reads the same keys
      * whichever reader takes it.
      */
    final class SharedDeck(rnd: scala.util.Random) {
      private val d = new Deck(rnd, Seq(0 -> 4, 50 -> 2, 70 -> 2, 85 -> 1, 95 -> 1))
      def next(): (Int, Long) = synchronized((d.next(), rnd.nextLong()))
    }

    def oneRead(c: GraftClient, rnd: scala.util.Random, r: Int): Unit = {
      val req = reqIds.incrementAndGet()
      val seen = versions.size
      val t0 = System.nanoTime()
      val tr = ctx.tracer
      tr.span("tx.begin", req)(c.newTx())
      var errored, point = false
      val ok = try {
        if (r < 40) {
          val k = rnd.nextLong(orders)
          val df = tr.span("table.scan_plan", req)(
            c.scanEquals(Table, "l_orderkey", k))
          val got = project(df).collect().toSeq.map(LineGen.fromRow)
          val want =
            if (deleted(k)) Nil
            else (0 until LineGen.LinesPerOrder).map(l => base(k * 4 + l))
              .filter(_.l_orderkey == k)
          if (tr.on.get) probes.add(("l_orderkey", k, seen))
          point = true
          sameRows(got, want)
        } else if (r < 80) {
          val d0 = rnd.nextInt(LineGen.ShipDays - sz.rangeDays)
          val d1 = d0 + sz.rangeDays
          val df =
            if (r < 65) tr.span("sql.plan", req) {
              val q = spark.sql(s"SELECT l_quantity FROM $cat.$Table " +
                s"WHERE l_shipdate >= TIMESTAMP '${ts(d0)}' " +
                s"AND l_shipdate < TIMESTAMP '${ts(d1)}'")
              q.queryExecution.executedPlan; q
            } else tr.span("sources.plan", req) {
              val q = spark.read.format("graft").option("table", Table)
                .load(root.toString)
                .where(col("l_shipdate") >= lit(ts(d0)) && col("l_shipdate") < lit(ts(d1)))
              q.queryExecution.executedPlan; q
            }
          val got = countQty(df)
          val want = ((d0 until d1).map(dayCount(_)).sum,
            (d0 until d1).map(dayQty(_)).sum)
          val injected = !wrongInjected.getAndSet(true)
          got._1 == want._1 + (if (injected) 1 else 0) &&
            math.abs(got._2 - want._2) < 1e-6
        } else if (r < 90) {
          val p = 1 + rnd.nextLong(LineGen.Parts)
          val df = tr.span("table.scan_plan", req)(
            c.scanEquals(Table, "l_partkey", p))
          val got = project(df).collect().toSeq.map(LineGen.fromRow)
          if (tr.on.get) probes.add(("l_partkey", p, seen))
          sameRows(got, byPart.getOrElse(p, Array.empty[LineRow]).toSeq)
        } else {
          val vs = versions.asScala.toIndexedSeq
          val (v, batches) = vs(rnd.nextInt(vs.size))
          val df = tr.span("table.scan_plan", req)(
            c.scanAsOf(Table, v).where(col("l_orderkey") >= appendBase))
          val got = countQty(df)
          val rows = (0 until batches).flatMap(appended)
          got._1 == rows.size && math.abs(got._2 - rows.map(_.l_quantity).sum) < 1e-6
        }
      } catch {
        case e: Exception =>
          notes.add(s"error=${e.getClass.getSimpleName}: ${e.getMessage}".take(200))
          errored = true
          false
      } finally c.rollback()
      // an operation that threw is a failure, not a latency sample
      if (!errored) {
        val ms = (System.nanoTime() - t0) / 1e6
        lat.add(ms)
        if (point) pointLat.add(ms)
      }
      attempted.incrementAndGet()
      if (!ok) failed.incrementAndGet()
    }

    /** Objects considered (live in the snapshot) and opened (left after
      * pruning) by the traced point and bloom reads, counted after the
      * traced segment with the probes off, so the counting calls add
      * neither time nor store, FS or job traffic to the reads. A read's
      * snapshot is taken as the last version the appender had recorded
      * when it ran; opened objects are counted at the latest version,
      * which prunes alike since appended keys lie outside every probe.
      */
    def pruneCounts(c: GraftClient): (Long, Long) = {
      val vs = versions.asScala.toIndexedSeq
      val live = mutable.Map[Long, Long]()
      c.newTx()
      try probes.asScala.foldLeft((0L, 0L)) { case ((cons, open), (column, key, seen)) =>
        val v = vs(seen - 1)._1
        val n = live.getOrElseUpdate(v, c.objectsAsOf(Table, v).size.toLong)
        (cons + n, open + c.prunedObjects(Table, Seq(column -> (key, key)),
          Seq(column -> key)).size)
      } finally c.rollback()
    }

    var batchesDone = 0
    var loops = 0
    /** The readers share `n` rounds of the deck (or, warming up, each runs
      * one point and one SQL read) while the appender commits batch after
      * batch, each due `appendEveryMs` (plus seeded jitter) after the last.
      */
    def loop(n: Int, warmup: Boolean = false): (Long, Double) = {
      loops += 1
      val n0 = lat.size
      val t0 = System.nanoTime()
      val deck = new SharedDeck(new scala.util.Random(seed * 7 + loops))
      val todo = new java.util.concurrent.atomic.AtomicInteger(n * RoundOps)
      val done = new java.util.concurrent.atomic.AtomicBoolean(false)
      val threads = readers.zipWithIndex.map { case ((c, _), i) =>
        val t = new Thread(() => {
          JobProbe.role(spark, "read")
          if (warmup)
            Seq(0, 50).foreach(r => oneRead(c, new scala.util.Random(seed + i), r))
          else while (todo.getAndDecrement() > 0) {
            val (r, opSeed) = deck.next()
            oneRead(c, new scala.util.Random(opSeed), r)
          }
        })
        t.start(); t
      }
      val arnd = new scala.util.Random(seed * 13 + loops)
      val app = new Thread(() => {
        JobProbe.role(spark, "append")
        var due = t0 + sz.appendEveryMs * 1000000L
        while (!done.get && !warmup) {
          val wait = due - System.nanoTime()
          if (wait > 0) Thread.sleep(math.min(wait / 1000000L, 50L))
          else {
            lateMs.add(-wait / 1e6)
            val b = batchesDone + 1
            appender.newTx()
            appender.insert(Table, frame(spark, appended(b - 1)))
            appender.commitTxRetrying()
            versions.add(appender.latestVersion -> b)
            appendLat.add((System.nanoTime() - due) / 1e6)
            batchesDone = b
            due += (sz.appendEveryMs + arnd.nextInt(sz.appendEveryMs.toInt / 4)) * 1000000L
          }
        }
      })
      app.start()
      threads.foreach(_.join())
      val secs = (System.nanoTime() - t0) / 1e9
      done.set(true)
      app.join()
      (lat.size - n0, secs)
    }

    // warm-up (part of set-up): every reader runs a point and a SQL read
    val tw = System.nanoTime()
    loop(1, warmup = true)
    val warmS = (System.nanoTime() - tw) / 1e9
    lat.clear(); pointLat.clear()

    seconds => {
      val m = new Metrics
      def segment(rounds: Int): (Long, Double, Seq[Double], Seq[Double]) = {
        lat.clear(); pointLat.clear()
        val (n, s) = loop(rounds)
        (n, s, lat.asScala.toSeq, pointLat.asScala.toSeq)
      }
      val rounds = math.max(1, math.round(seconds / RoundSeconds).toInt)
      // a traced run runs the rounds traced, then again untraced
      val traced =
        if (!a.trace) None
        else {
          val since = ctx.startTracing()
          val fs0 = FsStats.snapshot()
          val (tn, tsecs, _, _) = segment(rounds)
          ctx.drain()
          val t = ctx.tracer
          m.put("table.scan_plan_ms", t.totalMs("table.scan_plan", since), "ms")
          m.put("table.scan_plan.n", t.count("table.scan_plan", since).toDouble, "count")
          m.put("sql.plan_ms", t.totalMs("sql.plan", since), "ms")
          m.put("sql.plan.n", t.count("sql.plan", since).toDouble, "count")
          m.put("sources.plan_ms", t.totalMs("sources.plan", since), "ms")
          m.put("sources.plan.n", t.count("sources.plan", since).toDouble, "count")
          m.put("tx.begin_ms", t.totalMs("tx.begin", since), "ms")
          m.put("tx.begin.n", t.count("tx.begin", since).toDouble, "count")
          m ++= jobMetrics(ctx, "read", "read")
          val st = readers.map(_._2) :+ appStore
          m ++= storeMetrics(st, fs0)
          m.put("tx.checkpoints", st.map(_.checkpoints.get).sum.toDouble, "count")
          m.put("tx.checkpoint_put_ms", st.map(_.ckptNs.get).sum / 1e6, "ms")
          m.put("trace.ops_per_s", tn / tsecs, "1/s")
          ctx.stopTracing()
          val (considered, opened) = pruneCounts(readers.head._1)
          m.put("table.objects_considered", considered.toDouble, "count")
          m.put("table.objects_opened", opened.toDouble, "count")
          m.put("table.prune_ratio", opened.toDouble / math.max(1L, considered), "ratio")
          Some(tn / tsecs)
        }
      val (n, secs, all, points) = segment(rounds)
      traced.foreach(r => m.put("trace.overhead_pct", ((n / secs) / r - 1) * 100, "%"))
      m.put("read.begin_cold_ms", coldBegin(appStore), "ms")
      m.put("read.ops_per_s", n / secs, "1/s")
      m.put("read.p50_ms", Stats.median(all), "ms")
      m.put("read.p95_ms", Stats.quantile(all, 0.95), "ms")
      if (points.nonEmpty) m.put("read.point_p50_ms", Stats.median(points), "ms")
      if (!appendLat.isEmpty)
        m.put("append.p50_ms", Stats.median(appendLat.asScala.toSeq), "ms")
      m.put("append.late_ms", Stats.median(lateMs.asScala.toSeq :+ 0.0), "ms")
      m.put("append.batches", batchesDone.toDouble, "count")
      m.put("setup.layout_s", layoutS, "s")
      m.put("setup.model_s", modelS, "s")
      m.put("setup.read_warm_s", warmS, "s")
      m.put("read.samples", all.size.toDouble, "count")
      Outcome(attempted.get, failed.get, m,
        notes.asScala.toSeq.distinct.take(5), all)
    }
  }
}
