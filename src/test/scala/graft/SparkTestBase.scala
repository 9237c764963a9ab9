package graft

import java.nio.file.{Files, Path}
import org.apache.spark.sql.SparkSession

/** Shared local SparkSession for all specs (one JVM, forked by sbt). */
object SparkTestBase {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  private val tempDirs = new java.util.concurrent.ConcurrentLinkedQueue[Path]()
  sys.addShutdownHook(tempDirs.forEach(deleteRecursively(_)))

  private def deleteRecursively(root: Path): Unit =
    if (Files.exists(root)) {
      val walk = Files.walk(root)
      try walk.sorted(java.util.Comparator.reverseOrder[Path]())
        .forEach(p => Files.deleteIfExists(p))
      finally walk.close()
    }

  /** A fresh temp dir, deleted with everything in it when the test JVM
    * exits.
    */
  def tempDir(prefix: String): String = {
    val d = Files.createTempDirectory(prefix)
    tempDirs.add(d)
    d.toString
  }
}
