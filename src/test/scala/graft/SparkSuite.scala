package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared session for all suites: one JVM-wide SparkSession (getOrCreate),
  * local[4] is plenty for sf0.001-scale test inputs.
  */
trait SparkSuite extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSuite.session
  val sf: String = "/root/testdata/sf0.001"

  /** Runs `body` on a fresh temp directory and deletes it afterwards,
    * whether the body returns or throws.
    */
  def withTempDir[A](prefix: String)(body: java.nio.file.Path => A): A = {
    val dir = java.nio.file.Files.createTempDirectory(prefix)
    try body(dir)
    finally graft.sources.Staging.deleteRecursively(dir)
  }
}

object SparkSuite {
  lazy val session: SparkSession = {
    // Tables a spec saves (ScaleTechniquesSpec) land in this warehouse;
    // it is deleted when the JVM exits.
    val warehouse = java.nio.file.Files.createTempDirectory("graft-wh")
    sys.addShutdownHook(scala.util.Try(graft.sources.Staging.deleteRecursively(warehouse)))
    // local[4, 2]: 4 threads, maxFailures=2 — lets ChaosSpec exercise the
    // task-retry contract (reference: 10 s deadline re-execution,
    // mr/coordinator.go:141-154) without a second SparkContext.
    val s = SparkSession.builder()
      .master("local[4, 2]")
      .config("spark.sql.warehouse.dir", warehouse.toString)
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.adaptive.enabled", "true")
      // Mirrors GraftSession: events.ts is TIMESTAMP(NANOS) parquet.
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
