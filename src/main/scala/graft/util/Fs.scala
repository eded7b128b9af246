package graft.util

import java.io.IOException
import java.nio.file.{FileVisitResult, Files, Path, SimpleFileVisitor}
import java.nio.file.attribute.BasicFileAttributes

/** Local-filesystem helpers shared by the fixture builders, the
  * streaming drains and the [[graft.TempDirs]] exit hook — one copy of
  * the recursive delete instead of a divergence-prone snippet per caller.
  */
object Fs {

  /** Delete `root` and everything under it. Missing paths, and files or
    * dirs that another thread deletes mid-walk (Spark's own exit hooks
    * clean their dirs concurrently), are skipped, never thrown.
    */
  def deleteRecursively(root: Path): Unit =
    Files.walkFileTree(root, new SimpleFileVisitor[Path] {
      override def visitFile(f: Path,
                             a: BasicFileAttributes): FileVisitResult = {
        delete(f); FileVisitResult.CONTINUE
      }
      override def visitFileFailed(f: Path,
                                   e: IOException): FileVisitResult =
        FileVisitResult.CONTINUE
      override def postVisitDirectory(d: Path,
                                      e: IOException): FileVisitResult = {
        delete(d); FileVisitResult.CONTINUE
      }
    })

  private def delete(p: Path): Unit =
    try Files.deleteIfExists(p) catch { case _: IOException => () }
}
