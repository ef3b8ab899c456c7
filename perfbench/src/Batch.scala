package perfbench

import java.nio.file.{Files, Paths}

import scala.util.{Success, Try}

import org.apache.spark.sql.DataFrame

import graft.SparkEntry
import graft.tsdb.TickStore

/** `batch`: closed-loop bulk ingest of a 2M-tick, 64-symbol tape into
  * fresh stores, full-history range scans of single symbols, and one
  * pass over a fixed panel of `SparkEntry.queries` on the generated
  * sf0.1 tables, each evaluated through the `noop` sink.
  */
object Batch {
  val Symbols = 64
  val TicksPerSymbol = 31250L
  val Ingests = 3
  val Scans = 6
  val Passes = 2

  /** The analytics panel, one entry per family: TSDB range scan,
    * chunked windows, as-of join, range join, a TPC-H join, text dedup,
    * batch retrieval, a stateful stream.
    */
  val Panel: Seq[String] = Seq(
    "q_range_scan", "q_ohlc_daily", "q_asof_native", "q_range_join",
    "q5_star_join", "q_dedup_minhash", "q_bm25_indexed", "q_stream_stateful")

  /** Full evaluation of every output column, no sink IO. */
  def evalFull(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  def run(ctx: Ctx): Unit = {
    val res = ctx.res
    val spark = ctx.spark
    val data = ctx.args.data
    val outDir = ctx.path("panel_out")
    ctx.mark("start")

    // set-up: one untimed pass builds the process-cached artifacts
    // (BM25 index, stream sentinels) and materialises each output for
    // the oracle check after the run
    val setupT0 = System.nanoTime()
    val setupEach = Panel.map { name =>
      val (_, ms) = ctx.timed(try ctx.inGroup("setup")(SparkEntry.queries(name)(spark, data)
        .coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name"))
      catch { case e: Throwable => res.op(Some(s"$name (set-up pass): $e")) })
      f"$name=${ms / 1000}%.2f"
    }
    val setupS = (System.nanoTime() - setupT0) / 1e9
    res.line(setupEach.mkString("  set-up pass s: ", " ", ""))
    val oracle = SparkEntry.oracleSql.filter { case (k, _) => Panel.contains(k) }
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"),
      oracle.map { case (k, v) => s"${Main.q(k)}: ${Main.q(v)}" }.mkString("{", ",", "}"))
    ctx.mark("setup")

    // warm-up, untimed: one bulk ingest and one scan, so the first
    // timed ones run compiled code like the rest
    val tape = Tape(ctx.seed, Symbols)
    ctx.inGroup("setup") {
      val warm = new TickStore(spark, ctx.path("warm"))
      warm.ingest(tape.frame(spark, 0, TicksPerSymbol))
      warm.queryRange(tape.sym(0), new java.sql.Timestamp(tape.t0 * 1000L),
        new java.sql.Timestamp(tape.ts(TicksPerSymbol - 1) * 1000L)).collect()
    }
    ctx.deleteDir(ctx.path("warm"))
    val untraced = section(ctx, tape, muted = true)
    ctx.mark("measured")
    val qs = untraced.byQuery.map(_._2)
    val reads = new Samples
    (qs.map(_ * 1000.0) ++ untraced.scanMs.values).foreach(reads.add)
    val nTicks = Symbols * TicksPerSymbol
    res.put("setup_s", setupS, "s")
    res.put("read_p50_ms", reads.median, "ms")
    res.put("read_tail_ms", reads.tail._2, "ms")
    res.put("reads_per_s", reads.size * 1000.0 / reads.sum, "1/s")
    res.put("ingest_ticks_per_s", nTicks * 1000.0 / untraced.ingestMs.median, "ticks/s")

    res.line(f"batch: $Ingests bulk ingests of $nTicks ticks over $Symbols symbols; " +
      f"$Scans scans of $TicksPerSymbol ticks; $Passes passes of a ${Panel.size}-query panel")
    res.figure("setup_s", setupS, "s", 1)
    res.figure("ingest_ticks_per_s", untraced.ingestPerS, "1/s", untraced.ingestMs.size)
    res.figure("scan_ticks_per_s", untraced.scanPerS, "1/s", untraced.scanMs.size)
    res.line(untraced.ingestMs.values.map(ms => f"$ms%.0f").mkString("  ingest ms: ", " ", "") +
      untraced.scanMs.values.map(ms => f"$ms%.0f").mkString("  scan ms: ", " ", ""))
    res.figure("analytics_total_s", qs.sum, "s", qs.size)
    res.figure("analytics_geomean_s", Stats.geomean(qs), "s", qs.size)
    res.line(untraced.byQuery.map { case (n, s) => f"$n=$s%.3f" }
      .mkString("  per-query median s: ", " ", ""))

    ctx.counters.foreach { c =>
      c.register()
      c.reset()
      val t = section(ctx, tape, muted = false)
      ctx.mark("traced")
      t.byQuery.foreach { case (n, s) =>
        res.detail(n) = f"""{"query":"$n","seconds":$s%.4f}"""
      }
      val tq = t.byQuery.map(_._2)
      Layers.overhead(res, "ingest_ticks_per_s", untraced.ingestPerS, t.ingestPerS)
      Layers.overhead(res, "scan_ticks_per_s", untraced.scanPerS, t.scanPerS)
      Layers.overhead(res, "analytics_total_s", qs.sum, tq.sum)
      Layers.overhead(res, "analytics_geomean_s", Stats.geomean(qs), Stats.geomean(tq))
      Layers.idleServe(ctx)
      t.layers.foreach { case (k, v) => res.put(k, v, Layers.unit(k)) }
    }
  }

  /** Everything one timed section measured. */
  final case class Section(ingestMs: Samples, scanMs: Samples,
      perQuery: Seq[(String, Double)], layers: Seq[(String, Double)]) {
    def ingestPerS: Double = Symbols * TicksPerSymbol * 1000.0 / ingestMs.median
    def scanPerS: Double = TicksPerSymbol * 1000.0 / scanMs.median
    /** Each panel query's median over the passes, in panel order. */
    def byQuery: Seq[(String, Double)] =
      Panel.map(n => n -> Stats.median(perQuery.collect { case (`n`, s) => s }))
  }

  /** Bulk ingests, scans and the panel, timed; per-layer figures when
    * the run's counters are registered and the tracer is not muted.
    * The work runs in `Ingests` rounds, each an ingest into a fresh
    * store, a share of the scans on that store and a share of the
    * `Passes` panel passes, so that load from outside the run that
    * comes and goes within it reaches every metric alike rather than
    * one phase. Panel layer figures are per pass.
    */
  def section(ctx: Ctx, tape: Tape, muted: Boolean): Section = {
    val res = ctx.res
    val spark = ctx.spark
    val counters = ctx.counters.filter(_ => !muted)
    ctx.tracer.muted = muted
    counters.foreach(_.reset())
    // after each operation, so the listeners' per-query counts land in its group
    def settle(group: String): Unit = counters.foreach(_.settle(group))

    val nTicks = Symbols * TicksPerSymbol
    val ingestMs, scanMs = new Samples
    val scanRng = new Rng(ctx.seed, 23)
    val last = tape.ts(TicksPerSymbol - 1)
    val runs = Seq.fill(Passes)(Panel).flatten
    val chunks = runs.grouped(math.ceil(runs.size.toDouble / Ingests).toInt).toVector
    val builds, walls = Seq.newBuilder[(Long, Long)]
    val perQuery = Seq.newBuilder[(String, Double)]
    var gcMs = 0.0
    var storeDir = ""
    for (round <- 0 until Ingests) {
      // bulk ingest: closed loop, into a fresh store
      if (storeDir.nonEmpty) ctx.deleteDir(storeDir)
      storeDir = ctx.path(s"bulk$round")
      val (err, ms) = ctx.timed(try {
        ctx.inGroup("writer")(ctx.tracer.span("tickstore.ingest", round) {
          new TickStore(spark, storeDir).ingest(tape.frame(spark, 0, TicksPerSymbol))
        })
        None
      } catch { case e: Exception => Some(s"bulk ingest $round: $e") })
      if (err.isEmpty) ingestMs.add(ms)
      res.op(err)
      settle("writer")
      val store = new TickStore(spark, storeDir)

      // scans: inclusive full-history range of one symbol, materialised
      for (k <- round until Scans by Ingests) {
        val s = scanRng.below(Symbols)
        val (rows, ms) = ctx.timed(try {
          Right(ctx.inGroup("scan")(ctx.tracer.span("tickstore.query_range", k) {
            store.queryRange(tape.sym(s), new java.sql.Timestamp(tape.t0 * 1000L),
              new java.sql.Timestamp(last * 1000L)).collect()
          }))
        } catch { case e: Exception => Left(s"scan ${tape.sym(s)}: $e") })
        res.op(rows match {
          case Left(err) => Some(err)
          case Right(rows) =>
            scanMs.add(ms)
            val bad = rows.length != TicksPerSymbol || rows.indices.exists { i =>
              val r = rows(i)
              r.getString(0) != tape.sym(s) || r.getTimestamp(1).getTime != tape.ts(i) * 1000L ||
                math.round(r.getDouble(2) * 100) != tape.cents(s, i) ||
                r.getLong(3) != tape.volume(s, i)
            }
            if (bad) Some(s"scan ${tape.sym(s)}: ${rows.length} rows") else None
        })
        settle("scan")
      }

      // the analytics panel through the noop sink
      chunks.lift(round).getOrElse(Nil).foreach { name =>
        val gc0 = Jvm.gcMs
        val w0 = System.currentTimeMillis()
        val t0 = System.nanoTime()
        val ok = try {
          ctx.inGroup("panel")(ctx.tracer.span("panel.query") {
            val df = ctx.tracer.span("entry.build")(SparkEntry.queries(name)(spark, ctx.args.data))
            builds += ((w0, System.currentTimeMillis()))
            ctx.tracer.span("entry.eval")(evalFull(df))
          })
          None
        } catch { case e: Throwable => Some(s"$name: $e") }
        perQuery += name -> (System.nanoTime() - t0) / 1e9
        walls += ((w0, System.currentTimeMillis()))
        gcMs += Jvm.gcMs - gc0
        res.op(ok)
        settle("panel")
      }

      // each store holds exactly the tape
      res.op(Try(ctx.inGroup("check")(store.countAll())) match {
        case Success(n) if n == nTicks => None
        case got => Some(s"bulk store count $got, want $nTicks")
      })
    }

    val layers = counters.toSeq.flatMap { c =>
      val w = c.group("writer")
      val sc = c.group("scan")
      val p = c.group("panel")
      val b = builds.result()
      // jobs started while a query's DataFrame was being built
      val eager = p.jobSpans.count { case (st, _) =>
        b.exists { case (x, y) => st >= x && st <= y }
      }
      // panel wall time during which no panel job was running
      val gap = walls.result().map { case (a, z) =>
        val covered = p.jobSpans.map { case (s, e) => (math.max(s, a), math.min(e, z)) }
          .filter { case (s, e) => e > s }.sortBy(_._1)
          .foldLeft((0L, a)) { case ((acc, cur), (s, e)) =>
            val s1 = math.max(s, cur)
            if (e > s1) (acc + e - s1, e) else (acc, cur)
          }._1
        (z - a - covered).toDouble
      }.sum
      Seq("tickstore.ingest_ms" -> ingestMs.median,
        "tickstore.ingest_wait_ms" -> 0.0,
        "tickstore.ingest_files" -> ctx.dirFiles(storeDir).toDouble,
        "tickstore.ingest_jobs" -> w.jobs.toDouble / Ingests,
        "tickstore.ingest_tasks" -> w.tasks.toDouble / Ingests,
        "tickstore.ingest_shuffle_bytes" -> w.shuffleWrite.toDouble / Ingests,
        "tickstore.bytes_per_tick" -> ctx.dirBytes(storeDir).toDouble / nTicks,
        "tickstore.query_range_ms" -> scanMs.median,
        "tickstore.scan_files_read" -> sc.filesRead.toDouble / Scans,
        "tickstore.scan_bytes_read" -> sc.inputBytes.toDouble / Scans) ++ Seq(
        "entry.build_ms" -> ctx.tracer.named("entry.build").sum,
        "entry.eager_jobs" -> eager.toDouble,
        "catalyst.analysis_ms" -> p.phases("analysis"),
        "catalyst.optimization_ms" -> p.phases("optimization"),
        "catalyst.planning_ms" -> p.phases("planning"),
        "sched.jobs" -> p.jobs.toDouble, "sched.stages" -> p.stages.toDouble,
        "sched.tasks" -> p.tasks.toDouble, "sched.driver_gap_ms" -> gap,
        "exec.task_run_ms" -> p.runMs, "exec.task_cpu_ms" -> p.cpuMs,
        "exec.gc_ms" -> p.gcMs, "exec.scan_bytes" -> p.inputBytes.toDouble,
        "exec.files_read" -> p.filesRead.toDouble,
        "exec.shuffle_read_bytes" -> p.shuffleRead.toDouble,
        "exec.shuffle_write_bytes" -> p.shuffleWrite.toDouble,
        "exec.spill_bytes" -> p.spill.toDouble,
        "stream.triggers" -> c.streamTriggers.toDouble,
        "stream.trigger_ms" -> c.streamMs("triggerExecution"),
        "stream.add_batch_ms" -> c.streamMs("addBatch"),
        "stream.get_batch_ms" -> c.streamMs("getBatch"),
        "stream.planning_ms" -> c.streamMs("queryPlanning"),
        "stream.wal_commit_ms" -> c.streamMs("walCommit"),
        "stream.state_rows" -> c.streamStateRows.toDouble,
        "jvm.gc_ms" -> gcMs).map { case (k, v) => k -> v / Passes }
    }
    ctx.deleteDir(storeDir)
    ctx.tracer.muted = false
    Section(ingestMs, scanMs, perQuery.result(), layers)
  }
}
