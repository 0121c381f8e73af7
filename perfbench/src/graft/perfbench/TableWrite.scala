package graft.perfbench

import java.nio.file.{Files, Path}
import java.util.concurrent.ThreadLocalRandom
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import graft.store.LocalObjectStore
import graft.table.GraftClient
import graft.tx.CommitConflictException
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

/** Shared helpers of the two table-store workloads. */
object StoreBench {
  val Table = "li"

  def client(ctx: Ctx, root: Path): (GraftClient, CountingStore) = {
    val store = new CountingStore(new LocalObjectStore(root.toString),
      ctx.tracer.on)
    (new GraftClient(ctx.spark, root.toString, logStore = Some(store)), store)
  }

  def frame(spark: SparkSession, rows: Seq[LineRow]): DataFrame =
    spark.createDataFrame(rows.map(LineGen.toRow).asJava, LineGen.schema)

  /** Seed rows `0 until n` of `stream`, generated inside Spark tasks. */
  def seedFrame(spark: SparkSession, seed: Long, stream: Long, keyBase: Long,
      n: Long, slices: Int): DataFrame = {
    import spark.implicits._
    spark.range(0, n, 1, slices).as[Long]
      .map(i => LineGen.row(seed, stream, keyBase, i)).toDF()
  }

  def dirBytes(root: Path): Long =
    if (!Files.exists(root)) 0L
    else Files.walk(root).iterator().asScala
      .filter(Files.isRegularFile(_)).map(Files.size).sum

  def deleteDir(root: Path): Unit =
    if (Files.exists(root))
      Files.walk(root).sorted(java.util.Comparator.reverseOrder())
        .forEach(p => Files.deleteIfExists(p))

  /** Current table state (latest version per key) in a fresh transaction. */
  def liveRows(c: GraftClient): Seq[LineRow] = {
    c.newTx()
    try c.currentState(Table, LineGen.KeyCols)
      .select(LineGen.schema.fieldNames.map(col).toIndexedSeq: _*)
      .collect().toSeq.map(LineGen.fromRow)
    finally c.rollback()
  }

  /** Bytes the rows take written once as a single parquet file. */
  def userBytes(spark: SparkSession, rows: Seq[LineRow], dir: Path): Long = {
    frame(spark, rows).coalesce(1).write.mode("overwrite").parquet(dir.toString)
    val b = Files.list(dir).iterator().asScala
      .filter(_.getFileName.toString.endsWith(".parquet")).map(Files.size).sum
    deleteDir(dir)
    b
  }

  /** Store-layer metrics common to both table workloads. */
  def storeMetrics(stores: Seq[CountingStore], fs0: (Long, Long, Long, Long))
      : Seq[(String, Double, String)] = {
    val merged = stores.flatMap(_.metrics).groupBy(_._1).toSeq
      .map { case (n, xs) => (n, xs.map(_._2).sum, xs.head._3) }
      .sortBy(_._1)
    val (w1, r1, ro1, wo1) = FsStats.snapshot()
    merged ++ Seq(
      ("fs.bytes_written", (w1 - fs0._1).toDouble, "bytes"),
      ("fs.bytes_read", (r1 - fs0._2).toDouble, "bytes"),
      ("fs.read_ops", (ro1 - fs0._3).toDouble, "count"),
      ("fs.write_ops", (wo1 - fs0._4).toDouble, "count"))
  }

  def jobMetrics(ctx: Ctx, prefix: String, role: String)
      : Seq[(String, Double, String)] = {
    val (jobs, stages, tasks, cpuNs, runMs, shuffle, spill) =
      ctx.probe.snapshot(role)
    Seq((s"$prefix.jobs", jobs.toDouble, "count"),
      (s"$prefix.stages", stages.toDouble, "count"),
      (s"$prefix.tasks", tasks.toDouble, "count"),
      (s"$prefix.task_cpu_ms", cpuNs / 1e6, "ms"),
      (s"$prefix.task_run_ms", runMs.toDouble, "ms"),
      (s"$prefix.shuffle_write_bytes", shuffle.toDouble, "bytes"),
      (s"$prefix.spill_bytes", spill.toDouble, "bytes"))
  }

  /** `tx.begin_cold_ms`: replay the log with no cached snapshot. */
  def coldBegin(store: CountingStore): Double = {
    graft.tx.TxLog.clearSnapshotCache()
    val t0 = System.nanoTime()
    new graft.tx.TxLog(store).begin()
    (System.nanoTime() - t0) / 1e6
  }
}

/** Two writer clients in a closed loop on one table of one local store.
  * Writer w owns order keys [w * KeySpan, (w + 1) * KeySpan); each round
  * it runs 10 operations -- 6 appends, 2 merge upserts, a DV delete and a
  * copy-on-write delete -- in seeded order, and after each round writer 0
  * compacts and vacuums. Each writer keeps a sequential model of exactly
  * the operations it committed; the final table must equal the union of
  * the two models.
  */
object TableWrite {
  import StoreBench._

  val KeySpan = 1000000000L
  /** Operations per writer per round, and a round's nominal wall time on a
    * 4-core host: a phase of `s` seconds runs round(s / RoundSeconds)
    * rounds, at least one, so every run of a given length does the same
    * operations.
    */
  val RoundOps = 10
  val RoundSeconds = 10.0
  val MaxAttempts = 64

  final case class Sizes(seedRows: Long, batchRows: Int, mergeRows: Int,
      deleteOrders: Int)

  final class Writer(val w: Int, val c: GraftClient, val store: CountingStore,
      seed: Long, initial: Iterable[LineRow]) {
    val model = mutable.HashMap[(Long, Int), LineRow]()
    initial.foreach(r => model(r.key) = r)
    val rnd = new scala.util.Random(seed * 31 + w)
    /** 60 % appends, 20 % merges, 10 % DV deletes, 10 % CoW deletes. */
    val deck = new Deck(rnd, Seq(0 -> 6, 60 -> 2, 80 -> 1, 95 -> 1))
    var nextOrder: Long = 0L
    var versions = 0
  }

  /** Sets the phase up and returns its timed part, run for the given
    * seconds.
    */
  def prepare(ctx: Ctx): Double => Outcome = {
    val a = ctx.args
    val spark = ctx.spark
    JobProbe.role(spark, "write")
    val sz =
      if (a.tiny) Sizes(4000, 100, 20, 3)
      else Sizes(40000, 200, 20, 4)
    val perWriter = sz.seedRows / 2

    // set-up: the shared table, seeded with each writer's half
    val root = a.work.resolve("store_write")
    val t0 = System.nanoTime()
    val (c0, _) = client(ctx, root)
    c0.newTx()
    c0.createTable(Table, LineGen.schema)
    (0 until 2).foreach { w =>
      c0.insert(Table, seedFrame(spark, a.seed, w, w * KeySpan, perWriter,
        spark.sparkContext.defaultParallelism))
    }
    c0.commitTx()
    val layoutS = (System.nanoTime() - t0) / 1e9
    val writers = (0 until 2).map { w =>
      val (c, st) = client(ctx, root)
      val init = (0L until perWriter).map(i =>
        LineGen.row(a.seed, w, w * KeySpan, i))
      val wr = new Writer(w, c, st, a.seed, init)
      wr.nextOrder = w * KeySpan + perWriter / LineGen.LinesPerOrder + 1
      wr
    }

    val lat = new java.util.concurrent.ConcurrentLinkedQueue[Double]()
    val attempted, failed = new AtomicLong
    val conflicts = new AtomicLong
    val rowsSubmitted = new AtomicLong
    val reqIds = new AtomicLong
    val injectDrop = new java.util.concurrent.atomic.AtomicBoolean(a.inject == "drop")
    val notes = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val kinds = mutable.Map[String, AtomicLong]()

    /** Run one operation to its acknowledged commit, retrying conflicts.
      * Returns false when it ran out of attempts.
      */
    def attempt(wr: Writer, name: String)(body: => Unit): Boolean = {
      val req = reqIds.incrementAndGet()
      val t0 = System.nanoTime()
      var n = 0
      var done = false
      var error = false
      while (!done && !error && n < MaxAttempts) {
        n += 1
        try {
          ctx.tracer.span("tx.begin", req)(wr.c.newTx())
          ctx.tracer.span(s"table.$name", req)(body)
          ctx.tracer.span("table.commit", req)(wr.c.commitTxRetrying())
          done = true
        } catch {
          case _: CommitConflictException =>
            conflicts.incrementAndGet()
            Thread.sleep(ThreadLocalRandom.current().nextInt(5 * n + 1).toLong)
          case e: Exception =>
            notes.add(s"error=$name ${e.getClass.getSimpleName}: ${e.getMessage}".take(200))
            error = true
        } finally if (wr.c.hasOpenTx) wr.c.rollback()
      }
      if (done) lat.add((System.nanoTime() - t0) / 1e6)
      kinds.synchronized(kinds.getOrElseUpdate(name, new AtomicLong))
        .incrementAndGet()
      done
    }

    def oneOp(wr: Writer, r: Int): Unit = {
      val keys = wr.model.keysIterator
      attempted.incrementAndGet()
      val ok =
        if (r < 60) {
          val rows = (0 until sz.batchRows).map(i =>
            LineGen.row(a.seed, 100 + wr.w, wr.nextOrder, i.toLong))
          // a dropped commit: the model records an append never committed
          val ok = (wr.w == 1 && injectDrop.getAndSet(false)) ||
            attempt(wr, "insert")(wr.c.insert(Table, frame(spark, rows)))
          if (ok) {
            rows.foreach(x => wr.model(x.key) = x)
            wr.nextOrder += (sz.batchRows + LineGen.LinesPerOrder - 1) /
              LineGen.LinesPerOrder
            rowsSubmitted.addAndGet(rows.size)
          }
          ok
        } else if (r < 80) {
          val all = keys.toIndexedSeq
          wr.versions += 1
          val picked = Seq.fill(sz.mergeRows)(all(wr.rnd.nextInt(all.size)))
            .distinct.map(k => LineGen.updated(a.seed, wr.model(k), wr.versions))
          val ok = attempt(wr, "merge")(
            wr.c.merge(Table, frame(spark, picked), LineGen.KeyCols))
          if (ok) {
            picked.foreach(x => wr.model(x.key) = x)
            rowsSubmitted.addAndGet(picked.size)
          }
          ok
        } else {
          val all = keys.toIndexedSeq
          val lo = all(wr.rnd.nextInt(all.size))._1
          val hi = lo + sz.deleteOrders - 1
          val dv = r < 90
          val ok = attempt(wr, if (dv) "delete_dv" else "delete_cow") {
            if (dv) wr.c.deleteRowsDV(Table, "l_orderkey", lo, hi)
            else wr.c.deleteRows(Table, "l_orderkey", lo, hi)
          }
          if (ok) {
            wr.model.keys.filter(k => k._1 >= lo && k._1 <= hi).toSeq
              .foreach(wr.model.remove)
          }
          ok
        }
      if (!ok) failed.incrementAndGet()
    }

    /** Writer 0's maintenance: compact the table, then vacuum it. */
    def maintain(wr: Writer): Unit = {
      attempted.addAndGet(2)
      if (!attempt(wr, "compact")(wr.c.compact(Table))) failed.incrementAndGet()
      val t0 = System.nanoTime()
      try {
        ctx.tracer.span("table.vacuum", reqIds.incrementAndGet())(
          wr.c.vacuum(retainVersions = 20))
        lat.add((System.nanoTime() - t0) / 1e6)
      } catch {
        case e: Exception =>
          notes.add(s"error=vacuum ${e.getClass.getSimpleName}: ${e.getMessage}".take(200))
          failed.incrementAndGet()
      }
    }

    /** `rounds` rounds: both writers run a round of their decks side by
      * side, then writer 0 compacts and vacuums.
      */
    def loop(rounds: Int): (Long, Double) = {
      val before = lat.size
      val t0 = System.nanoTime()
      (1 to rounds).foreach { _ =>
        writers.map { wr =>
          val t = new Thread(() => {
            JobProbe.role(spark, "write")
            (1 to RoundOps).foreach(_ => oneOp(wr, wr.deck.next()))
          })
          t.start(); t
        }.foreach(_.join())
        maintain(writers.head)
      }
      (lat.size - before, (System.nanoTime() - t0) / 1e9)
    }

    // warm-up (part of set-up): each writer appends and merges once
    val tw = System.nanoTime()
    writers.map { wr =>
      val t = new Thread(() => {
        JobProbe.role(spark, "write")
        Seq(0, 60).foreach(oneOp(wr, _))
      })
      t.start(); t
    }.foreach(_.join())
    val warmS = (System.nanoTime() - tw) / 1e9
    lat.clear()

    seconds => {
      val m = new Metrics
      def segment(rounds: Int): (Long, Double, Seq[Double]) = {
        lat.clear()
        val (n, s) = loop(rounds)
        (n, s, lat.asScala.toSeq)
      }
      val rounds = math.max(1, math.round(seconds / RoundSeconds).toInt)
      // a traced run runs the rounds traced, then again untraced
      val traced =
        if (!a.trace) None
        else {
          val fs0 = FsStats.snapshot()
          val since = ctx.startTracing()
          val submitted0 = rowsSubmitted.get
          val (n, s, _) = segment(rounds)
          ctx.drain()
          val t = ctx.tracer
          Seq("insert", "merge", "delete_dv", "delete_cow", "commit", "compact",
            "vacuum").foreach { k =>
            m.put(s"table.${k}_ms", t.totalMs(s"table.$k", since), "ms")
            m.put(s"table.$k.n", t.count(s"table.$k", since).toDouble, "count")
          }
          val st = writers.map(_.store)
          val attempts = st.map(_.logAttempts.get).sum
          val lost = st.map(_.logLost.get).sum
          m.put("tx.commit_attempts", attempts.toDouble, "count")
          m.put("tx.commit_conflicts", lost.toDouble, "count")
          m.put("tx.commit_success_ratio",
            if (attempts == 0) 1.0 else (attempts - lost).toDouble / attempts, "ratio")
          m.put("tx.checkpoints", st.map(_.checkpoints.get).sum.toDouble, "count")
          m.put("tx.checkpoint_put_ms", st.map(_.ckptNs.get).sum / 1e6, "ms")
          m.put("tx.begin_ms", t.totalMs("tx.begin", since), "ms")
          m.put("tx.begin.n", t.count("tx.begin", since).toDouble, "count")
          m ++= storeMetrics(st, fs0)
          m ++= jobMetrics(ctx, "write", "write")
          m.put("tx.op_retries", conflicts.get.toDouble, "count")
          m.put("trace.ops_per_s", n / s, "1/s")
          ctx.stopTracing()
          // user bytes submitted, valued at the final rows' bytes per row
          val rowsNow = rowsSubmitted.get - submitted0
          val probeRows = writers.head.model.values.take(20000).toSeq
          val perRow = userBytes(spark, probeRows, a.work.resolve("userbytes")) /
            math.max(1.0, probeRows.size)
          m.put("table.write_amp",
            m.get("fs.bytes_written").get / math.max(1.0, rowsNow * perRow), "ratio")
          Some(n / s)
        }
      val (untracedOps, untracedS, untracedLat) = segment(rounds)
      traced.foreach(r => m.put("trace.overhead_pct",
        ((untracedOps / untracedS) / r - 1) * 100, "%"))


      // correctness: the final table equals the union of the writer models
      val actual = liveRows(writers.head.c)
      val expected = writers.flatMap(_.model.values)
      val wrong = actual.size != expected.size || actual.toSet != expected.toSet
      if (wrong) {
        attempted.incrementAndGet(); failed.incrementAndGet()
        val (a1, e1) = (actual.toSet, expected.toSet)
        notes.add(s"final state: missing ${(e1 -- a1).take(3).mkString(";")} " +
          s"unexpected ${(a1 -- e1).take(3).mkString(";")}")
      }
      val live = actual.size
      val storeBytes = dirBytes(root)
      val ub = userBytes(spark, actual, a.work.resolve("userbytes"))
      m.put("store.space_amp", storeBytes / math.max(1.0, ub.toDouble), "ratio")
      m.put("tx.begin_cold_ms", coldBegin(writers.head.store), "ms")

      val all = untracedLat
      m.put("write.ops_per_s", untracedOps / untracedS, "1/s")
      m.put("write.p50_ms", Stats.median(all), "ms")
      m.put("write.p95_ms", Stats.quantile(all, 0.95), "ms")
      m.put("write.samples", all.size.toDouble, "count")
      m.put("setup.write_s", layoutS, "s")
      m.put("setup.write_warm_s", warmS, "s")
      Outcome(attempted.get, failed.get, m, latencies = all,
        notes = notes.asScala.toSeq.distinct.take(5) ++
          Seq(s"live_rows=$live", s"expected_rows=${expected.size}",
            s"conflict_retries=${conflicts.get}",
            s"ops=${kinds.map { case (k, v) => s"$k:${v.get}" }.mkString(",")}"))
    }
  }
}
