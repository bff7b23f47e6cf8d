package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.util.zip.Deflater

/** A fixed amount of CPU work on every core, timed: how fast the shared
  * machine runs the benchmark at that moment. Each thread deflates the
  * same WKT-like text with zlib, which is native code, so the figure does
  * not move as the JIT warms up; nothing here calls the library. */
object Calibration {
  private val Text: Array[Byte] = {
    val sb = new java.lang.StringBuilder
    var x = 0.123456789
    while (sb.length < (1 << 20)) {
      sb.append("POLYGON ((")
      for (_ <- 0 until 8) {
        x = (x * 3.987654321 + 0.1) % 1.0
        sb.append(x * 40000).append(' ').append(1 - x).append(", ")
      }
      sb.append(")) .\n")
    }
    sb.toString.getBytes(UTF_8)
  }
  private val Rounds = 3

  private def work(): Unit = {
    val deflater = new Deflater(6, true)
    val buf = new Array[Byte](1 << 16)
    for (_ <- 0 until Rounds) {
      deflater.reset()
      deflater.setInput(Text)
      deflater.finish()
      while (!deflater.finished()) deflater.deflate(buf)
    }
    deflater.end()
  }

  /** Seconds for `threads` threads to each do the work once. */
  def measure(threads: Int): Double = {
    val t0 = System.nanoTime()
    val ts = Seq.fill(threads)(new Thread(() => work()))
    ts.foreach(_.start())
    ts.foreach(_.join())
    (System.nanoTime() - t0) / 1e9
  }
}
