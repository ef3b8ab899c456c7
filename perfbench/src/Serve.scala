package perfbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

import graft.core.Tables
import graft.pipeline.{AnnServe, Bm25Index, Bm25Serve, Similarity}
import graft.tsdb.TickStore

/** Expected serve answers for the retrieval panels, taken once in
  * set-up from graft's Spark query paths (`Similarity.ivfPqTopK`,
  * `Bm25Index.topK`), in the exact text `Cli.serve` prints.
  */
final class RetrievalRefs(spark: SparkSession, dataDir: String, seed: Long) {
  private val emb = Tables.embeddings(spark, dataDir)
  private val docs = Tables.documents(spark, dataDir)
  val (ids, queries, hybrids) = Panels.retrieval(new Rng(seed, 7), 4, emb.count().toInt)
  // builds the process-cached IVFPQ and BM25 artifacts the serve tiers load
  AnnServe.forTable(emb)
  Bm25Serve.forTable(docs)
  private val ann20: Map[Long, Seq[(Long, Double)]] = ids.map { id =>
    id -> Similarity.ivfPqTopK(emb, id, 20).collect().toSeq
      .map(r => (r.getLong(0), r.getDouble(1)))
  }.toMap
  private val bm20: Map[Seq[String], Seq[(Long, Long, Double)]] = queries.map { t =>
    t -> Bm25Index.forTable(docs).topK(t, 20).collect().toSeq
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
  }.toMap

  def annCmd(id: Long): String = s"ann $id 10"
  def searchCmd(t: Seq[String]): String = s"search ${t.mkString(" ")}"
  def hybridCmd(h: (Long, Seq[String])): String = s"hybrid ${h._1} ${h._2.mkString(" ")}"

  def annLines(id: Long): Vector[String] = {
    val r = ann20(id).take(10)
    s"Top ${r.length} neighbors for vec $id:" +:
      r.map { case (v, c) => f"Vec: $v Cosine: $c%.4f" }.toVector
  }
  def searchLines(t: Seq[String]): Vector[String] = {
    val r = bm20(t).take(10)
    s"Top ${r.length} docs for ANY of '${t.mkString(" ")}':" +:
      r.map { case (d, l, s) => f"Doc: $d Len: $l BM25: $s%.6f" }.toVector
  }
  def hybridLines(h: (Long, Seq[String])): Vector[String] = {
    val fused = Similarity.rrfFuse(Seq(bm20(h._2).map(_._1), ann20(h._1).map(_._1)), 10)
    s"Top ${fused.length} hybrid hits for vec ${h._1} + '${h._2.mkString(" ")}':" +:
      fused.map { case (id, s) => f"Doc: $id RRF: $s%.6f" }.toVector
  }

  /** Every panel command with its expected answer. */
  def all: Vector[(String, String, Vector[String])] =
    ids.map(i => ("ann", annCmd(i), annLines(i))) ++
      queries.map(t => ("search", searchCmd(t), searchLines(t))) ++
      hybrids.map(h => ("hybrid", hybridCmd(h), hybridLines(h)))
}

/** Closed-form answers for tick reads on a [[Tape]] prefix. */
final class TickChecks(tape: Tape) {
  private def row(s: Int, i: Long): String = {
    val c = tape.cents(s, i)
    f"Timestamp: ${tape.ts(i)} Price: ${c / 100}.${c % 100}%02d Volume: ${tape.volume(s, i)}"
  }

  /** `query` over [a, b] seconds, both inside the first `hist` ticks. */
  def query(s: Int, a: Long, b: Long, hist: Long, got: Vector[String]): Option[String] = {
    val lo = math.max(0L, a - tape.t0)
    val hi = math.min(hist - 1, b - tape.t0)
    val want = s"Found ${math.max(0L, hi - lo + 1)} results:" +:
      (lo to hi).map(row(s, _)).toVector
    if (got == want) None else Some(s"query ${tape.sym(s)} $a $b: ${got.headOption}")
  }

  /** `last k` when the symbol holds n ticks, for some allowed n. */
  def last(s: Int, k: Int, ns: Iterable[Long], got: Vector[String]): Option[String] = {
    val ok = ns.exists { n =>
      val m = math.min(k.toLong, n)
      got == (s"Last $m ticks for ${tape.sym(s)}:" +:
        (n - 1 to n - m by -1).map(row(s, _)).toVector)
    }
    if (ok) None else Some(s"last ${tape.sym(s)} $k: ${got.headOption}")
  }

  def count(s: Int, ns: Iterable[Long], got: Vector[String]): Option[String] =
    if (ns.exists(n => got == Vector(s"Count: $n"))) None
    else Some(s"count ${tape.sym(s)}: ${got.headOption}")
}

/** One seeded tick-read command and how to check its answer. */
final case class TickCmd(kind: String, sym: Int, cmd: String,
    check: (Vector[String], Iterable[Long]) => Option[String])

object TickCmd {
  /** 70/20/10 query (60 s window) / last 10 / count on symbol `s`,
    * with windows inside the first `hist` ticks.
    */
  def draw(rng: Rng, tape: Tape, checks: TickChecks, s: Int, hist: Long): TickCmd = {
    val u = rng.nextDouble()
    val name = tape.sym(s)
    if (u < 0.7) {
      val a = tape.ts(rng.between(0, hist - 61))
      TickCmd("query", s, s"query $name $a ${a + 60}",
        (got, _) => checks.query(s, a, a + 60, hist, got))
    } else if (u < 0.9)
      TickCmd("last", s, s"last $name 10", (got, ns) => checks.last(s, 10, ns, got))
    else TickCmd("count", s, s"count $name", (got, ns) => checks.count(s, ns, got))
  }
}

/** The serve layers driven directly, with a span around each call —
  * the traced replay of a serve command log. Mirrors what `Cli.serve`
  * does per command: session open, first-touch loads, top-k calls and
  * the hybrid's 20/20/10 fusion.
  */
final class LayerReplay(ctx: Ctx) {
  private val tr = ctx.tracer
  private val emb = Tables.embeddings(ctx.spark, ctx.args.data)
  private val docs = Tables.documents(ctx.spark, ctx.args.data)
  private var ann: AnnServe = _
  private var bm: Bm25Serve = _
  private var store: TickStore = _
  private var touched = mutable.HashSet.empty[String]
  private var annCold, bmCold = true
  val rowsPerTouch = new Samples

  def open(req: Long, tickStore: TickStore): Unit = {
    store = tickStore
    ann = tr.span("ann.session_open", req) { val a = AnnServe.forTable(emb); a.prewarm(); a }
    bm = tr.span("bm25.session_open", req) { val b = Bm25Serve.forTable(docs); b.prewarm(); b }
    touched = mutable.HashSet.empty; annCold = true; bmCold = true
  }

  private def annTop(id: Long, k: Int, req: Long, name: String) = {
    val n = if (annCold) "ann.topk_cold" else name
    annCold = false
    tr.span(n, req)(ann.topKById(id, k))
  }
  private def bmTop(t: Seq[String], k: Int, req: Long, name: String) = {
    val n = if (bmCold) "bm25.topk_cold" else name
    bmCold = false
    tr.span(n, req)(bm.topK(t, k))
  }

  def command(cmd: String, req: Long): Unit = {
    val a = cmd.split(" ")
    a(0) match {
      case "ann" => annTop(a(1).toLong, a(2).toInt, req, "ann.topk")
      case "search" => bmTop(a.drop(1).toSeq, 10, req, "bm25.topk")
      case "hybrid" =>
        val terms = a.drop(2).toSeq
        tr.span("hybrid", req) {
          val b = bmTop(terms, 20, req, "hybrid.bm25").map(_._1)
          val n = annTop(a(1).toLong, 20, req, "hybrid.ann").map(_._1)
          tr.span("hybrid.fuse", req)(Similarity.rrfFuse(Seq(b, n), 10))
        }
      case _ =>
        val sym = a(1)
        if (touched.add(sym)) {
          val (_, maxTs) = tr.span("tickstore.stats_fast", req)(store.symbolStatsFast(sym).get)
          maxTs.foreach { m =>
            val endUs = Math.floorDiv(m.getTime, 1000L) * 1000000L + m.getNanos / 1000L
            val fromUs = (m.getTime / 1000L - 365L * 86400L) * 1000000L
            val got = tr.span("tickstore.scan_local", req)(
              store.scanRangeLocal(sym, fromUs, endUs).get)
            rowsPerTouch.add(got._1.length.toDouble)
          }
        }
    }
  }
}

/** Helpers for driving `Cli.serve` sessions. */
object ServeCommon {
  def start(ctx: Ctx, store: String): ServeSession =
    new ServeSession((in, out) => {
      ctx.spark.sparkContext.setLocalProperty(SparkCounters.GroupKey, "client")
      graft.Cli.serve(ctx.spark, store, in, out, 365, 64, Some(ctx.args.data))
    })

  def problem(lines: Vector[String], want: Vector[String], cmd: String): Option[String] =
    if (lines == want) None
    else Some(s"$cmd: got ${lines.take(2).mkString(" | ")}, want ${want.take(2).mkString(" | ")}")

  /** Median of each command kind into the report. */
  def reportKinds(res: Result, byKind: Map[String, Samples]): Unit =
    byKind.toSeq.sortBy(_._1).foreach { case (k, s) =>
      if (s.size > 0) res.line(f"  $k%-8s p50 ${s.median}%9.3f ms  n=${s.size}")
    }

  /** Per-layer serve metrics of a traced run. */
  def layerMetrics(ctx: Ctx, cmdMs: Samples, protoMs: Samples,
      clientJobs: Long, replay: LayerReplay): Unit = {
    val r = ctx.res
    def med(n: String): Double = {
      val v = ctx.tracer.named(n)
      if (v.isEmpty) 0.0 else Stats.median(v)
    }
    r.put("cli.cmd_ms", cmdMs.median, "ms")
    r.put("cli.protocol_ms", protoMs.median, "ms")
    r.put("cli.spark_jobs", clientJobs.toDouble, "count")
    Seq("tickstore.stats_fast", "tickstore.scan_local", "ann.session_open",
      "bm25.session_open", "ann.topk_cold", "bm25.topk_cold", "ann.topk",
      "bm25.topk", "hybrid.ann", "hybrid.bm25", "hybrid.fuse").foreach { n =>
      r.put(s"${n}_ms", med(n), "ms")
    }
    r.put("tickstore.rows_per_touch",
      if (replay.rowsPerTouch.size > 0) replay.rowsPerTouch.median else 0.0, "count")
  }
}
