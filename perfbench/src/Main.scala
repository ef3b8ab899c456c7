package perfbench

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

/** Harness entry point: one JVM, one pinned `local[4]` session, one
  * workload. Writes the run's metrics, report lines and operation
  * counts as JSON to `--out`; `run.py` prints them.
  *
  * {{{
  *   perfbench.Main --workload <name> --seed <n> --seconds <s>
  *     --trace <0|1> --work <dir> --data <dir> --out <file>
  * }}}
  */
object Main {
  final case class Args(workload: String, seed: Long, seconds: Double,
      trace: Boolean, work: String, data: String, out: String)

  def parse(a: Array[String]): Args = {
    val m = a.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Args(m("workload"), m("seed").toLong, m("seconds").toDouble,
      m.getOrElse("trace", "0") == "1", m("work"), m("data"), m("out"))
  }

  /** Fixed-work CPU probe: 4 threads folding 40M xorshift steps each,
    * no IO, no Spark. Recorded at the start and end of a run beside
    * the metrics; it flags a loaded machine and rescales nothing.
    */
  def calibration(): Double = {
    // let the collector and the JIT threads settle first
    System.gc()
    Thread.sleep(200)
    val t0 = System.nanoTime()
    val ts = (0 until 4).map { k =>
      val t = new Thread(() => {
        var x = 0x9E3779B97F4A7C15L + k
        var i = 0
        while (i < 40000000) { x ^= x << 13; x ^= x >>> 7; x ^= x << 17; i += 1 }
        if (x == 42L) System.err.print("")
      })
      t.start(); t
    }
    ts.foreach(_.join())
    (System.nanoTime() - t0) / 1e9
  }

  def session(work: String): SparkSession = {
    val spark = SparkSession.builder()
      .master("local[4]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.sql.streaming.checkpointLocation", s"$work/checkpoints")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** `s` as a JSON string literal. */
  def q(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  private def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.math.BigDecimal.valueOf(d).toPlainString

  def main(argv: Array[String]): Unit = {
    val args = parse(argv)
    Files.createDirectories(Paths.get(args.work))
    val spark = session(args.work)
    val res = new Result
    val tracer = new Tracer(args.trace)
    val counters = if (args.trace) Some(new SparkCounters(spark)) else None
    val calib0 = { calibration(); calibration() }
    val ctx = Ctx(spark, args, res, tracer, counters)
    val err = try {
      args.workload match {
        case "serve_cold_ingest" => ServeCold.run(ctx)
        case "batch" => Batch.run(ctx)
        case w => throw new IllegalArgumentException(s"unknown workload $w")
      }
      None
    } catch { case t: Throwable => t.printStackTrace(); Some(t.toString) }
    val calib1 = { calibration(); calibration() }
    res.line(f"calibration_s start $calib0%.4f end $calib1%.4f" +
      (if (calib1 > 1.25 * calib0 || calib0 > 1.25 * calib1) "  LOADED RUN" else ""))
    if (args.trace) {
      tracer.write(s"${args.work}/trace-${args.workload}-${args.seed}.jsonl",
        res.detail.values.toSeq)
    }
    val json = new StringBuilder
    json ++= "{"
    json ++= s""""error":${err.map(q).getOrElse("null")},"""
    json ++= s""""attempted":${res.attempted},"failed":${res.failed},"""
    json ++= s""""failures":${res.failures.map(q).mkString("[", ",", "]")},"""
    json ++= s""""calibration_s":{"start":${num(calib0)},"end":${num(calib1)}},"""
    json ++= s""""report":${res.report.map(q).mkString("[", ",", "]")},"""
    json ++= res.metrics.map { case (k, (v, u)) =>
      s"""${q(k)}:{"value":${num(v)},"unit":${q(u)}}""" }.mkString("\"metrics\":{", ",", "}")
    json ++= "}"
    Files.writeString(Paths.get(args.out), json.toString)
    spark.stop()
    // the session's non-daemon pools must not keep the JVM alive
    System.exit(0)
  }
}

/** Everything a workload needs from the run. */
final case class Ctx(spark: SparkSession, args: Main.Args, res: Result,
    tracer: Tracer, counters: Option[SparkCounters]) {
  def seed: Long = args.seed
  def path(name: String): String = s"${args.work}/$name"
  def deleteDir(p: String): Unit = graft.core.TempDirs.delete(p)
  /** Run `body` with this thread's Spark jobs tagged as `group`. */
  def inGroup[T](group: String)(body: => T): T = {
    spark.sparkContext.setLocalProperty(SparkCounters.GroupKey, group)
    try body finally spark.sparkContext.setLocalProperty(SparkCounters.GroupKey, null)
  }
  /** Report line with the JVM's uptime, to see where a run's time goes. */
  def mark(phase: String): Unit = res.line(f"phase $phase%-16s at ${
    java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime / 1000.0}%7.2f s")
  def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e6)
  }
  def dirFiles(dir: String): Int = {
    val d = Paths.get(dir)
    if (!Files.isDirectory(d)) 0
    else {
      val s = Files.walk(d)
      try s.filter(p => Files.isRegularFile(p) && p.getFileName.toString.endsWith(".parquet"))
        .count().toInt
      finally s.close()
    }
  }
  def dirBytes(dir: String): Long = {
    val s = Files.walk(Paths.get(dir))
    try s.filter(p => Files.isRegularFile(p) && p.getFileName.toString.endsWith(".parquet"))
      .mapToLong(p => Files.size(p)).sum()
    finally s.close()
  }
}
