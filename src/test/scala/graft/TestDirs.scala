package graft

import java.nio.file.{Files, Path}

/** Temp dirs for specs: each is deleted recursively when the test JVM
  * exits (sbt forks one JVM for the whole suite), so a suite run leaves
  * nothing under `java.io.tmpdir`. */
object TestDirs {
  private val made = new java.util.concurrent.ConcurrentLinkedQueue[java.io.File]()
  sys.addShutdownHook(made.forEach(f => LocalFs.deleteRecursively(f)))

  /** A fresh dir under `java.io.tmpdir`, named like `Files.createTempDirectory(prefix)`. */
  def create(prefix: String): Path = {
    val dir = Files.createTempDirectory(prefix)
    made.add(dir.toFile)
    dir
  }
}
