package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites (one JVM-wide session — Spark
  * startup under this sandbox costs seconds).
  */
trait GraftSpec extends AnyFunSuite {
  lazy val spark: SparkSession = GraftSpec.session
  def sf(dir: String = "sf0.001"): String = s"/root/testdata/$dir"
}

object GraftSpec {
  /** `target/<name>` of the checkout the suite runs in (sbt forks the
    * test JVM with the project base as its working directory), so a
    * copy of the repository neither writes into nor reuses another
    * checkout's files.
    */
  def targetDir(name: String): java.io.File =
    new java.io.File(sys.props("user.dir"), s"target/$name")

  lazy val session: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
