package graft.perfbench

import java.nio.file.{Files, Path, Paths}

/** Local-filesystem helpers for the benchmark's working directory. */
object Fs {
  def deleteTree(p: Path): Unit =
    if (Files.exists(p))
      Files.walk(p).sorted(java.util.Comparator.reverseOrder())
        .forEach(f => Files.delete(f))

  def deleteTree(p: String): Unit = deleteTree(Paths.get(p))

  private def isData(root: Path, f: Path): Boolean = {
    val rel = root.relativize(f)
    (0 until rel.getNameCount).forall { k =>
      val n = rel.getName(k).toString
      !n.startsWith(".") && !n.startsWith("_")
    }
  }

  /** Data files under `dir`: regular files with no hidden (`.`/`_`)
    * path component below `dir`, the files a Spark reader would see.
    */
  def dataFiles(dir: String): Seq[Path] = {
    val root = Paths.get(dir)
    if (!Files.isDirectory(root)) Seq.empty
    else {
      val s = Files.walk(root)
      try {
        val b = Seq.newBuilder[Path]
        s.forEach(f => if (Files.isRegularFile(f) && isData(root, f)) b += f)
        b.result()
      } finally s.close()
    }
  }

  def dataBytes(dir: String): Long = dataFiles(dir).map(f => Files.size(f)).sum
}
