package graft.tools

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

/** A `local-cluster` run refuses an environment whose executors would
  * fail to launch or write into the cwd or the Spark install. */
class LocalClusterConformanceSpec extends AnyFunSuite {
  import LocalClusterConformance.localClusterEnvProblem

  test("a local-cluster environment needs SPARK_SCALA_VERSION and a linked SPARK_HOME") {
    val install = graft.TestDirs.create("graft_spark_install")
    Files.createDirectories(install.resolve("jars"))
    val scratch = graft.TestDirs.create("graft_spark_home")
    Files.createSymbolicLink(scratch.resolve("jars"), install.resolve("jars"))
    val scala = Map("SPARK_SCALA_VERSION" -> "2.13")
    def problem(env: Map[String, String]): String =
      localClusterEnvProblem(env).getOrElse(fail(s"no problem found in $env"))
    assert(problem(Map("SPARK_HOME" -> scratch.toString)).contains("SPARK_SCALA_VERSION is unset"))
    assert(problem(scala).contains("SPARK_HOME is unset"))
    assert(problem(scala + ("SPARK_HOME" -> install.toString)).contains("is not a symlink"))
    Seq(Map.empty[String, String], scala, scala + ("SPARK_HOME" -> install.toString))
      .foreach(env => assert(problem(env).contains("symlinks to the Spark install")))
    assert(localClusterEnvProblem(scala + ("SPARK_HOME" -> scratch.toString)).isEmpty)
  }
}
