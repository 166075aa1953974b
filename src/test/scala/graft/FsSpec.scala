package graft

import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.{Files, Paths}

class FsSpec extends AnyFunSuite {

  test("deleteRecursively removes a tree") {
    val root = Files.createTempDirectory("fs_del")
    Files.createDirectories(root.resolve("a/b"))
    Files.writeString(root.resolve("a/b/f.txt"), "x")
    graft.util.Fs.deleteRecursively(root.toFile)
    assert(!Files.exists(root))
  }

  test("deleteRecursively does NOT follow directory symlinks (deletes the link only)") {
    // File.listFiles RESOLVES a symlink child and lists the TARGET's
    // contents — unguarded recursion deletes files OUTSIDE the tree
    // through the link (empirically confirmed before the isSymbolicLink
    // guard; callers pass user-supplied paths like Verify's outDir)
    val outside = Files.createTempDirectory("fs_outside")
    val precious = outside.resolve("precious.txt")
    Files.writeString(precious, "do not delete")
    val tree = Files.createTempDirectory("fs_tree")
    try {
      Files.createSymbolicLink(tree.resolve("link"), outside)
      graft.util.Fs.deleteRecursively(tree.toFile)
      assert(!Files.exists(tree), "the tree itself must be gone")
      assert(Files.exists(precious),
        "recursion followed the symlink and destroyed data outside the tree")
    } finally {
      graft.util.Fs.deleteRecursively(outside.toFile)
    }
  }

  test("writeAtomically: readers never see a partial file while it is replaced") {
    // the q33/q39 fixture CSVs and the q37 tree are rewritten on every
    // call while an earlier call's scan may be reading them; a truncate-
    // and-write exposes an empty or partial file to that reader
    val dir = Files.createTempDirectory("fs_atomic")
    val path = dir.resolve("f.csv").toString
    val body = Array.fill[Byte](1 << 16)('x')
    graft.util.Fs.writeAtomically(path, body)
    val writing = new java.util.concurrent.atomic.AtomicBoolean(true)
    val writer = new Thread(() =>
      try (1 to 300).foreach(_ => graft.util.Fs.writeAtomically(path, body))
      finally writing.set(false))
    val sizes = scala.collection.mutable.Set.empty[Long]
    writer.start()
    while (writing.get) sizes += Files.size(Paths.get(path))
    writer.join()
    assert(sizes.forall(_ == body.length), s"a reader saw sizes ${sizes.toSeq.sorted}")
    // the temp files are renamed into place, none left behind
    assert(Files.list(dir).count() == 1)
    graft.util.Fs.deleteRecursively(dir.toFile)
  }
}
