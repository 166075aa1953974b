package graft.util

/** Single home for the file helpers. The recursive delete's three call
  * sites (Bench's shutdown hook, Verify's stale-dump removal, q19's
  * temp-table cleanup) each carried a private copy — and drifted private
  * copies of shared helpers have forked behavior in this repo before (see
  * SplitMix's scaladoc). Keep exactly one definition of each.
  */
object Fs {
  /** Best-effort recursive delete that does NOT follow symlinks: a
    * directory symlink inside the tree is deleted as a link, never
    * descended — File.listFiles RESOLVES a symlink child and lists the
    * TARGET's contents, so unguarded recursion deletes files outside
    * the tree through the link (empirically confirmed; the callers pass
    * user-supplied paths like Verify's outDir, where that is data
    * loss). */
  def deleteRecursively(f: java.io.File): Unit = {
    if (!java.nio.file.Files.isSymbolicLink(f.toPath))
      Option(f.listFiles).foreach(_.foreach(deleteRecursively))
    f.delete(): Unit
  }

  /** Replace `path` with `bytes` through a hidden temp file in the same
    * directory and an atomic rename, and return `path`. A reader that
    * opens `path` while another writer replaces it (a Spark scan runs at
    * action time, long after the call that wrote its input) sees the old
    * file or the new one, never a truncated one. */
  def writeAtomically(path: String, bytes: Array[Byte]): String = {
    import java.nio.file.{Files, Paths, StandardCopyOption}
    val target = Paths.get(path)
    Files.createDirectories(target.getParent)
    val tmp = Files.createTempFile(target.getParent, s".${target.getFileName}", ".tmp")
    Files.write(tmp, bytes)
    Files.move(tmp, target, StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
    path
  }
}
