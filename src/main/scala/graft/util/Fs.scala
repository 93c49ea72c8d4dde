package graft.util

import java.nio.file.{Files, Path, Paths}

/** Local-filesystem helpers for scratch/work directories. */
object Fs {

  /** Per-fixture scratch dir: tmpdir/<prefix>/<hex of dir.hashCode> —
    * one canonical derivation for every stager/work dir. */
  def workDir(prefix: String, dir: String): Path =
    Paths.get(System.getProperty("java.io.tmpdir"), prefix,
      java.lang.Integer.toHexString(dir.hashCode))

  /** [[workDir]], emptied: a run that must start from nothing any
    * earlier run left behind. */
  def freshWorkDir(prefix: String, dir: String): String = {
    val p = workDir(prefix, dir).toString
    deleteRec(p)
    p
  }

  /** Atomically publish `content` at `target`: write a temp sibling,
    * then move into place. A killed run leaves no partial file a later
    * idempotence check could mistake for the real one. */
  def writeAtomic(target: Path, content: Array[Byte]): Unit = {
    Files.createDirectories(target.getParent)
    val tmp = target.resolveSibling(target.getFileName.toString + ".tmp")
    Files.write(tmp, content)
    Files.move(tmp, target,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
  }

  /** Delete a directory tree if it exists (no-op otherwise). The walk
    * stream is closed deterministically — it holds directory handles. */
  def deleteRec(dir: String): Unit = {
    val p: Path = Paths.get(dir)
    if (Files.exists(p)) {
      val walk = Files.walk(p)
      try {
        val it = walk.sorted(java.util.Comparator.reverseOrder[Path]()).iterator()
        while (it.hasNext) Files.delete(it.next())
      } finally walk.close()
    }
  }
}
