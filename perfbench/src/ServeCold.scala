package perfbench

import java.util.concurrent.atomic.AtomicInteger

import scala.util.{Success, Try}

import graft.tsdb.TickStore

/** Open-loop writer: slice `k` (the next `slice` ticks of every
  * symbol) is due at `periodMs * k` after the start, whether or not the
  * previous one has committed, for `slices` slices; each commit is
  * timed from its due time.
  */
final class Writer(ctx: Ctx, store: TickStore, tape: Tape, hist: Long, slice: Long,
    periodMs: Long, slices: Int, started: AtomicInteger) extends Thread("writer") {
  val commitMs, ingestMs, waitMs = new Samples
  val committed = new AtomicInteger(0)
  @volatile private var stopping = false
  @volatile var failure: Option[Throwable] = None
  private val t0 = System.nanoTime()
  setDaemon(true)

  override def run(): Unit = ctx.inGroup("writer") {
    var k = 0
    try while (!stopping && k < slices) {
      val due = t0 + k * periodMs * 1000000L
      while (!stopping && System.nanoTime() < due)
        Thread.sleep(math.max(1L, math.min(50L, (due - System.nanoTime()) / 1000000L)))
      if (!stopping) {
        started.incrementAndGet()
        val begin = System.nanoTime()
        ctx.tracer.span("tickstore.ingest", k.toLong) {
          store.ingest(tape.frame(ctx.spark, hist + k * slice, hist + (k + 1) * slice))
        }
        val end = System.nanoTime()
        committed.incrementAndGet()
        commitMs.add((end - due) / 1e6)
        ingestMs.add((end - begin) / 1e6)
        waitMs.add(math.max(0L, begin - due) / 1e6)
        k += 1
      }
    } catch { case t: Throwable => failure = Some(t) }
  }

  def finish(): Unit = { stopping = true; join() }
}

/** `serve_cold_ingest`: short `Cli.serve` sessions over 256 symbols of
  * history (4x the serve cache) while a writer appends one time slice
  * across all 256 symbols on a fixed cadence. Each session sends one
  * ann, one search, one hybrid, then 100 Zipf(1.0)-skewed tick reads.
  */
object ServeCold {
  val Symbols = 256
  val History = 2000L
  val Slice = 100L
  val PeriodMs = 5000L
  val ReadsPerSession = 100
  val Setups = 3
  val WarmUpSeconds = 3.0
  /** Store states the read latencies are taken at: the history plus
    * 0, 1 or 2 committed slices, which every pass goes through.
    */
  val ColdStates = 3

  final class Pass {
    val byKind = Seq("query", "last", "count", "ann", "search", "hybrid",
      "ann_cold", "search_cold", "hybrid_cold").map(_ -> new Samples).toMap
    val coldMs, cmdMs, protoMs = new Samples
    /** Tick reads that touch their symbol first in the session. */
    val firstTouch = new Samples
    /** The same, by the slices committed before and after the read. */
    val coldByState = Array.fill(ColdStates)(new Samples)
    var tickReads, sessions = 0
    var writer: Writer = _
    def pool(kinds: Seq[String]): Samples = {
      val s = new Samples
      kinds.foreach(k => byKind(k).values.foreach(s.add))
      s
    }
    def ticks: Samples = pool(Seq("query", "last", "count"))
  }

  def run(ctx: Ctx): Unit = {
    val res = ctx.res
    val tape = Tape(ctx.seed, Symbols)
    val checks = new TickChecks(tape)
    ctx.mark("start")
    val refs = new RetrievalRefs(ctx.spark, ctx.args.data, ctx.seed)
    ctx.mark("refs")
    var stores = 0
    def freshStore(): String = {
      val dir = ctx.path(s"store$stores")
      stores += 1
      ctx.inGroup("writer")(new TickStore(ctx.spark, dir).ingest(tape.frame(ctx.spark, 0, History)))
      dir
    }
    // set-up: load the history, open a session; repeated, the median
    // is setup_s. The last store serves the untraced pass.
    val setupMs = new Samples
    var storeDir = ""
    for (_ <- 0 until Setups) {
      if (storeDir.nonEmpty) ctx.deleteDir(storeDir)
      val t0 = System.nanoTime()
      storeDir = freshStore()
      val sess = ServeCommon.start(ctx, storeDir)
      sess.awaitReady()._2.foreach(l => res.op(Some(s"session open: $l")))
      setupMs.add((System.nanoTime() - t0) / 1e6)
      sess.close()
    }
    ctx.mark("setups")
    val perm = {
      val r = new Rng(ctx.seed, 5)
      val a = Array.range(0, Symbols)
      for (i <- Symbols - 1 to 1 by -1) {
        val j = r.below(i + 1)
        val t = a(i); a(i) = a(j); a(j) = t
      }
      a
    }

    /** Reader sessions for `seconds` beside a writer on the store in
      * `dir`, which holds only the history; the seeded session log
      * (streams `log`, `log + 4`) restarts at each pass. The writer
      * commits one slice at the start of each whole period of the pass,
      * so every commit overlaps the readers. Checks the store's final
      * count.
      */
    def measure(dir: String, seconds: Double, replay: Option[LayerReplay],
        write: Boolean = true, log: Long = 13): Pass = {
      val p = new Pass
      val store = new TickStore(ctx.spark, dir)
      val started = new AtomicInteger(0)
      def allowed(): Seq[Long] = (0 to started.get).map(History + _ * Slice)
      val rng = new Rng(ctx.seed, log)
      val zipf = new Zipf(Symbols, 1.0, new Rng(ctx.seed, log + 4))
      val slices = if (write) math.floor(seconds * 1000 / PeriodMs).toInt else 0
      val w = new Writer(ctx, store, tape, History, Slice, PeriodMs, slices, started)
      p.writer = w
      w.start()
      val deadline = System.nanoTime() + (seconds * 1e9).toLong
      var req = 0L
      while (System.nanoTime() < deadline) {
        val ann = refs.ids(rng.below(refs.ids.size))
        val terms = refs.queries(rng.below(refs.queries.size))
        val hy = refs.hybrids(rng.below(refs.hybrids.size))
        val retrieval = Vector(("ann", refs.annCmd(ann), refs.annLines(ann)),
          ("search", refs.searchCmd(terms), refs.searchLines(terms)),
          ("hybrid", refs.hybridCmd(hy), refs.hybridLines(hy)))
        val ticks = Vector.fill(ReadsPerSession)(
          TickCmd.draw(rng, tape, checks, perm(zipf.draw()), History))
        p.sessions += 1
        replay match {
          case Some(r) =>
            req += 1
            try {
              r.open(req, store)
              (retrieval.map(_._2) ++ ticks.map(_.cmd) ++ retrieval.map(_._2))
                .foreach(c => r.command(c, req))
            } catch { case e: Exception => res.op(Some(s"layer replay: $e")) }
          case None =>
            val sess = ServeCommon.start(ctx, dir)
            val touched = scala.collection.mutable.HashSet.empty[Int]
            def send(kind: String, cmd: String, check: Vector[String] => Option[String]): Double = {
              req += 1
              val (ns, progMs, lines) = ctx.tracer.span("cli.cmd", req)(sess.send(cmd))
              p.byKind(kind).add(ns / 1e6)
              if (!progMs.isNaN) {
                p.cmdMs.add(progMs)
                p.protoMs.add(ns / 1e6 - progMs)
              }
              res.op(lines.find(_.startsWith("error:")) match {
                case Some(e) => Some(s"$cmd: $e")
                case None => check(lines)
              })
              ns / 1e6
            }
            // a session that stops answering counts as one failed
            // operation; the next session starts afresh
            try {
              sess.awaitReady()._2.foreach(l => res.op(Some(s"session open: $l")))
              retrieval.zipWithIndex.foreach { case ((k, c, want), i) =>
                send(s"${k}_cold", c, got => ServeCommon.problem(got, want, c))
                if (i == 0) p.coldMs.add((System.nanoTime() - sess.openedNs) / 1e6)
              }
              ticks.foreach { t =>
                if (System.nanoTime() < deadline) {
                  p.tickReads += 1
                  val first = touched.add(t.sym)
                  val k = w.committed.get
                  val ms = send(t.kind, t.cmd, got => t.check(got, allowed()))
                  if (first) {
                    p.firstTouch.add(ms)
                    if (k < ColdStates && w.committed.get == k) p.coldByState(k).add(ms)
                  }
                }
              }
              // the same retrieval again, now answered from the session's caches
              if (System.nanoTime() < deadline)
                retrieval.foreach { case (k, c, want) =>
                  send(k, c, got => ServeCommon.problem(got, want, c))
                }
            } catch { case e: Exception => res.op(Some(s"session: $e")) }
            finally sess.close()
        }
      }
      w.finish()
      w.failure.foreach(f => res.op(Some(s"writer: $f")))
      (0 until w.committed.get).foreach(_ => res.op(None))
      // the store holds exactly the history plus every committed slice
      val want = Symbols * (History + started.get * Slice)
      res.op(Try(ctx.inGroup("check")(store.countAll())) match {
        case Success(n) if n == want => None
        case got => Some(s"store count $got, want $want")
      })
      p
    }

    ctx.tracer.muted = true
    // warm-up, untimed: one reader session on its own log, no writer,
    // so the tick-read path is compiled before the measured pass
    measure(storeDir, WarmUpSeconds, None, write = false, log = 113)
    ctx.mark("warm-up")
    val gc0 = Jvm.gcMs
    val p = measure(storeDir, ctx.args.seconds, None)
    val gcMs = Jvm.gcMs - gc0
    ctx.tracer.muted = false
    ctx.deleteDir(storeDir)
    ctx.mark("measured")
    val w = p.writer
    val ticks = p.ticks
    val all = p.pool(p.byKind.keys.toSeq)
    val sliceTicks = Symbols * Slice
    res.put("setup_s", setupMs.median / 1000.0, "s")
    // latency of the cold reads, the ones this workload is built to
    // measure, at each store state, averaged over the states: a cold
    // read costs about one more file's read per committed slice, and
    // how many reads fall in each state moves with the machine's speed
    def overStates(q: Double): Double =
      p.coldByState.map(s => Stats.quantile(s.values, q)).sum / ColdStates
    res.put("read_p50_ms", overStates(0.5), "ms")
    res.put("read_tail_ms", overStates(0.9), "ms")
    res.put("reads_per_s", all.size * 1000.0 / all.sum, "1/s")
    res.put("ingest_ticks_per_s", sliceTicks * 1000.0 / w.commitMs.median, "ticks/s")

    res.line(f"serve_cold_ingest: $Symbols symbols x $History ticks of history; " +
      f"${p.sessions} sessions; writer: $sliceTicks ticks every $PeriodMs ms, " +
      f"${w.committed.get} committed")
    res.figure("setup_s", setupMs.median / 1000.0, "s", setupMs.size)
    res.figure("tick_read_p50_ms", ticks.median, "ms", ticks.size)
    res.tailFigure("tick_read_p99_ms", ticks, "ms")
    res.figure("retrieval_cold_ms", p.coldMs.median, "ms", p.coldMs.size)
    Seq("ann", "search", "hybrid").foreach(k =>
      res.figure(s"${k}_p50_ms", p.byKind(k).median, "ms", p.byKind(k).size))
    res.tailFigure("retrieval_p99_ms", p.pool(Seq("ann", "search", "hybrid")), "ms")
    res.figure("ingest_commit_p50_ms", w.commitMs.median, "ms", w.commitMs.size)
    res.figure("ingest_alone_p50_ms", w.ingestMs.median, "ms", w.ingestMs.size)
    p.coldByState.zipWithIndex.foreach { case (s, k) =>
      res.figure(s"cold_read_p50_ms slices=$k", s.median, "ms", s.size)
    }
    res.figure("first_touch_share", p.firstTouch.size.toDouble / math.max(1, p.tickReads),
      "share", p.tickReads)
    val late = if (w.waitMs.size > 0) w.waitMs.values.max else 0.0
    res.line(f"writer lateness max $late%.1f ms; gc $gcMs%.0f ms" +
      w.commitMs.values.map(ms => f"$ms%.0f").mkString("; commit ms: ", " ", ""))
    ServeCommon.reportKinds(res, p.byKind)

    ctx.counters.foreach { c =>
      // traced: the same log through Cli.serve with the listeners on,
      // then replayed straight against the layers, each on a fresh store
      c.register()
      val dir = freshStore()
      c.reset()
      val tGc0 = Jvm.gcMs
      val tp = measure(dir, ctx.args.seconds, None)
      val tGc = Jvm.gcMs - tGc0
      c.drain()
      val tw = tp.writer
      val batches = math.max(1, tw.committed.get).toDouble
      val client = c.group("client")
      val writer = c.group("writer")
      val files = ctx.dirFiles(dir)
      val stored = Symbols * (History + tw.committed.get * Slice)
      res.put("tickstore.files_per_symbol", files.toDouble / Symbols, "count")
      res.put("tickstore.ingest_ms", tw.ingestMs.median, "ms")
      res.put("tickstore.ingest_wait_ms", tw.waitMs.median, "ms")
      res.put("tickstore.ingest_files", (files - Symbols) / batches, "count")
      res.put("tickstore.ingest_jobs", writer.jobs / batches, "count")
      res.put("tickstore.ingest_tasks", writer.tasks / batches, "count")
      res.put("tickstore.ingest_shuffle_bytes", writer.shuffleWrite / batches, "bytes")
      res.put("tickstore.bytes_per_tick", ctx.dirBytes(dir).toDouble / stored, "bytes")
      ctx.deleteDir(dir)
      val replay = new LayerReplay(ctx)
      val rdir = freshStore()
      measure(rdir, ctx.args.seconds, Some(replay))
      ctx.deleteDir(rdir)
      ctx.mark("traced")
      ServeCommon.layerMetrics(ctx, tp.cmdMs, tp.protoMs, client.jobs, replay)
      Layers.idleScanPanel(ctx)
      res.put("jvm.gc_ms", tGc, "ms")
      Layers.overhead(res, "tick_read_p50_ms", ticks.median, tp.ticks.median)
      Layers.overhead(res, "retrieval_cold_ms", p.coldMs.median, tp.coldMs.median)
      Layers.overhead(res, "ingest_commit_p50_ms", w.commitMs.median, tw.commitMs.median)
    }
  }
}
