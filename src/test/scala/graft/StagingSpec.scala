package graft

import java.nio.file.{Files, Paths}

/** Run in a child JVM by StagingSpec: stages a temp dir with a nested
  * file, prints its path and exits. */
object TmpDirChild {
  def main(args: Array[String]): Unit = {
    val dir = graft.queries.Staging.tmpDir("exitcheck")
    Files.createDirectories(Paths.get(dir, "a", "b"))
    Files.writeString(Paths.get(dir, "a", "b", "part-0.parquet"), "x")
    println(dir)
  }
}

/** The staging harness's session and file-system hygiene. */
class StagingSpec extends SparkSpec {
  import graft.queries.Staging.withConf

  test("tmpDir is deleted with its contents when the JVM exits") {
    val java = Paths.get(sys.props("java.home"), "bin", "java").toString
    val child = new ProcessBuilder(java, "-Xmx256m",
      "-cp", sys.props("java.class.path"), "graft.TmpDirChild")
      .redirectError(ProcessBuilder.Redirect.DISCARD)
      .start()
    val out = new String(child.getInputStream.readAllBytes(), "UTF-8")
    assert(child.waitFor() === 0)
    val dir = out.linesIterator.filter(_.startsWith("/")).toSeq.last
    assert(Paths.get(dir).getFileName.toString.startsWith("graft-exitcheck-"))
    assert(!Files.exists(Paths.get(dir)), s"$dir outlived its JVM")
  }

  test("withConf restores set keys and unsets keys that were unset, also on failure") {
    val set = "spark.sql.shuffle.partitions"
    val unset = "spark.sql.cbo.enabled"
    val before = spark.conf.getAll
    assert(before.contains(set) && !before.contains(unset))
    val seen = withConf(spark, set -> "3", unset -> "true") {
      (spark.conf.get(set), spark.conf.get(unset))
    }
    assert(seen === (("3", "true")))
    assert(spark.conf.getAll === before)
    intercept[IllegalStateException] {
      withConf(spark, set -> "5", unset -> "true") { throw new IllegalStateException("boom") }
    }
    assert(spark.conf.getAll === before)
  }
}
