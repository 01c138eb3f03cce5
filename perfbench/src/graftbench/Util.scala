package graftbench

import java.io.File

object Json {
  /** A JSON string literal. */
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case '\t' => b ++= "\\t"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    b += '"'
    b.toString
  }
}

object Disk {
  private def files(f: File): Iterator[File] =
    if (f.isDirectory) Option(f.listFiles()).iterator.flatten.flatMap(files)
    else if (f.isFile) Iterator(f) else Iterator.empty

  /** Bytes under `path`, in MB. */
  def mb(path: String): Double = files(new File(path)).map(_.length).sum / 1e6

  /** Files under `path` whose name ends with `suffix`. */
  def count(path: String, suffix: String): Int = files(new File(path)).count(_.getName.endsWith(suffix))

  def delete(path: String): Unit = {
    def rm(f: File): Unit = {
      if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(rm))
      f.delete()
    }
    rm(new File(path))
  }
}
