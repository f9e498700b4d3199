package graft.perfbench

import java.io.File

/** Small file-system helpers for the benchmark's own directories. */
object Fs {
  def delete(path: String): Unit = graft.ops.Scale.deleteRecursively(new File(path))

  /** Regular files under `path`, Spark's `_SUCCESS`/`.crc` markers excluded. */
  def dataFiles(path: String): Seq[File] = {
    def walk(f: File): Seq[File] =
      if (f.isFile) Seq(f) else Option(f.listFiles()).toSeq.flatten.sortBy(_.getName).flatMap(walk)
    walk(new File(path)).filterNot(f => f.getName.startsWith("_") || f.getName.startsWith("."))
  }

  def bytes(path: String): Long = dataFiles(path).map(_.length).sum

  def write(path: String, text: String): Unit = {
    new File(path).getParentFile.mkdirs()
    java.nio.file.Files.writeString(java.nio.file.Paths.get(path), text)
  }
}
