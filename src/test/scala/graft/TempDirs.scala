package graft

import java.nio.file.{Files, Path}

/** Scratch directories for spec fixtures. [[make]] creates one under the
  * system temp directory, and one JVM shutdown hook deletes every made
  * tree with all that was written into it. (`File.deleteOnExit` skips a
  * non-empty directory, so a fixture Spark has filled would outlive the
  * run.)
  */
object TempDirs {
  private val made = java.util.concurrent.ConcurrentHashMap.newKeySet[Path]()

  sys.addShutdownHook(made.forEach { d =>
    try deleteTree(d) catch { case _: java.io.IOException => () }
  })

  def make(prefix: String): Path = {
    val d = Files.createTempDirectory(prefix)
    made.add(d)
    d
  }

  private def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val listing = Files.walk(p)
      try listing.sorted(java.util.Comparator.reverseOrder()).forEach(Files.delete(_))
      finally listing.close()
    }
}
