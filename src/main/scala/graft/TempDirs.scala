package graft

/** Temp dirs under `java.io.tmpdir` that live as long as this JVM: ONE
  * shutdown hook deletes every dir handed out. The staged query
  * fixtures and the specs' scratch dirs come from here.
  */
object TempDirs {
  private val created =
    new java.util.concurrent.ConcurrentLinkedQueue[java.nio.file.Path]()
  private lazy val hook: Unit =
    Runtime.getRuntime.addShutdownHook(new Thread(() =>
      created.forEach(p => graft.util.Fs.deleteRecursively(p))))

  /** A new empty dir whose name starts with `prefix`. */
  def create(prefix: String): String = {
    hook
    val p = java.nio.file.Files.createTempDirectory(prefix)
    created.add(p)
    p.toString
  }
}
