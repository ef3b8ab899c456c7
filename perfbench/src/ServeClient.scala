package perfbench

import java.util.concurrent.{LinkedBlockingQueue, TimeUnit}

/** One in-process `Cli.serve` session driven line by line.
  *
  * Commands go in through a queue-backed reader; every line the
  * session prints is captured whole into a second queue. A command's
  * answer is all lines up to and including its `(N ms)` line (or its
  * `error:` line), so the client can time each command from send to
  * that line and read the program's own timing from it.
  */
final class ServeSession(start: (java.io.BufferedReader, java.io.PrintStream) => Unit) {
  private val EOF = "\u0000eof"
  private val in = new LinkedBlockingQueue[String]()
  private val out = new LinkedBlockingQueue[String]()
  @volatile private var failure: Throwable = null

  private val reader = new java.io.Reader {
    private var buf: String = ""
    private var pos = 0
    def read(cbuf: Array[Char], off: Int, len: Int): Int = {
      if (pos >= buf.length) {
        val line = in.take()
        if (line eq EOF) return -1
        buf = line + "\n"; pos = 0
      }
      val n = math.min(len, buf.length - pos)
      buf.getChars(pos, pos + n, cbuf, off)
      pos += n
      n
    }
    def close(): Unit = ()
  }

  private val sink = new java.io.OutputStream {
    private val line = new java.io.ByteArrayOutputStream(256)
    def write(b: Int): Unit =
      if (b == '\n') { out.put(line.toString("UTF-8")); line.reset() }
      else line.write(b)
    override def write(b: Array[Byte], off: Int, len: Int): Unit = {
      var i = off
      while (i < off + len) { write(b(i).toInt); i += 1 }
    }
  }

  val openedNs: Long = System.nanoTime()
  private val thread = new Thread(() => {
    try start(new java.io.BufferedReader(reader, 1),
      new java.io.PrintStream(sink, true, "UTF-8"))
    catch { case t: Throwable => failure = t }
    finally out.put(EOF)
  }, "serve-session")
  thread.setDaemon(true)
  thread.start()

  private def next(): String = {
    val l = out.poll(30, TimeUnit.SECONDS)
    if (l == null) throw new IllegalStateException("serve session timed out")
    if (l eq EOF) throw new IllegalStateException(
      s"serve session ended early: ${Option(failure).map(_.toString).getOrElse("eof")}")
    l
  }

  /** Lines up to and including the ready banner; returns its arrival time. */
  def awaitReady(): (Long, Seq[String]) = {
    val seen = Seq.newBuilder[String]
    var l = next()
    while (!l.startsWith("graft serve")) { seen += l; l = next() }
    (System.nanoTime(), seen.result())
  }

  /** Send one command; returns (client ns, program ms, answer lines).
    * A command that fails prints an `error:` line and no timing: its
    * answer ends there, with the program time NaN.
    */
  def send(cmd: String): (Long, Double, Vector[String]) = {
    val t0 = System.nanoTime()
    in.put(cmd)
    val lines = Vector.newBuilder[String]
    var l = next()
    while (!(l.startsWith("(") && l.endsWith(" ms)")) && !l.startsWith("error:")) {
      lines += l; l = next()
    }
    val dt = System.nanoTime() - t0
    if (l.startsWith("error:")) (dt, Double.NaN, (lines += l).result())
    else (dt, l.substring(1, l.length - 4).toDouble, lines.result())
  }

  def close(): Unit = {
    in.put("exit")
    in.put(EOF)
    thread.join(60000)
  }
}
