package perfbench

import java.io.{BufferedReader, File, InputStreamReader}
import java.nio.charset.StandardCharsets
import java.security.MessageDigest
import java.util.zip.GZIPInputStream

/** Local-file helpers for output checks, all outside the op clock. */
object Files {
  /** Data files of a table: the path itself, or its visible part files in
    * name order (the order a global sort writes them in).
    */
  def parts(path: String): Seq[File] = {
    val f = new File(path)
    if (f.isFile) Seq(f)
    else Option(f.listFiles()).toSeq.flatten
      .filter(p => p.isFile && p.length > 0 && !p.getName.startsWith("_") &&
        !p.getName.startsWith("."))
      .sortBy(_.getName)
  }

  private def open(f: File): java.io.InputStream = {
    val in = new java.io.BufferedInputStream(new java.io.FileInputStream(f))
    if (f.getName.endsWith(".gz")) new GZIPInputStream(in, 1 << 16) else in
  }

  /** Every line of a table's part files, decompressed, in order. */
  def foreachLine(path: String)(fn: String => Unit): Unit =
    parts(path).foreach { f =>
      val r = new BufferedReader(new InputStreamReader(open(f),
        StandardCharsets.UTF_8), 1 << 16)
      try Iterator.continually(r.readLine()).takeWhile(_ != null).foreach(fn)
      finally r.close()
    }

  def countLines(path: String): Long = {
    var n = 0L
    foreachLine(path)(_ => n += 1)
    n
  }

  /** SHA-256 over each top-level table under `dir` (name order): its name
    * and its parts' decompressed content, so part boundaries do not count.
    */
  def digest(dir: String): String = {
    val md = MessageDigest.getInstance("SHA-256")
    val buf = new Array[Byte](1 << 16)
    Option(new File(dir).listFiles()).toSeq.flatten.sortBy(_.getName)
      .foreach { t =>
        md.update(t.getName.getBytes(StandardCharsets.UTF_8))
        parts(t.getPath).foreach { f =>
          val in = open(f)
          try Iterator.continually(in.read(buf)).takeWhile(_ >= 0)
            .foreach(n => md.update(buf, 0, n))
          finally in.close()
        }
      }
    md.digest().map("%02x".format(_)).mkString
  }

  def bytes(path: String): Long = {
    val f = new File(path)
    if (f.isFile) f.length
    else Option(f.listFiles()).toSeq.flatten.map(c => bytes(c.getPath)).sum
  }

  def delete(path: String): Unit = {
    val f = new File(path)
    Option(f.listFiles()).toSeq.flatten.foreach(c => delete(c.getPath))
    f.delete()
  }
}
