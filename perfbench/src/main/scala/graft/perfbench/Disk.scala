package graft.perfbench

import java.io.File

/** Bytes and data files under a table root, split into the `_log`
  * directory and everything else. */
final case class Disk(bytes: Long, logBytes: Long, dataFiles: Map[String, Long])

object Disk {
  def usage(root: String): Disk = {
    var bytes = 0L; var logBytes = 0L
    val data = Map.newBuilder[String, Long]
    def walk(f: File, inLog: Boolean): Unit =
      if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(c => walk(c, inLog || c.getName == "_log")))
      else if (!f.getName.startsWith(".")) {
        bytes += f.length()
        if (inLog) logBytes += f.length()
        else if (f.getName.endsWith(".parquet")) data += f.getPath -> f.length()
      }
    walk(new File(root), inLog = false)
    Disk(bytes, logBytes, data.result())
  }

  /** Bytes of every regular file under `dir`. */
  def bytes(dir: String): Long = usage(dir).bytes
}
