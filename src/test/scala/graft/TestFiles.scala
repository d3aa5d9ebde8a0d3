package graft

import java.nio.file.{Files, Path}

/** File helpers shared by the specs. */
object TestFiles {

  /** Delete `p` and everything under it; a missing path is a no-op. */
  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val all = Files.walk(p)
    try all.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(f => Files.delete(f))
    finally all.close()
  }
}
