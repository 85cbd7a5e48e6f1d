package graft.queries

import java.util.concurrent.{CyclicBarrier, Executors, TimeUnit}

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._

import graft.{SparkEntry, SparkSuite}
import org.apache.spark.sql.DataFrame

/** The *_staged entries take their staging directory as an argument, so
  * several of them — and two runs of the same one — can run at once in
  * one session. Each call stages into its own temp directory
  * (`Staging.scoped`), so the two dd_minhash_staged runs never read each
  * other's half-written table, and the directory is deleted before the
  * call returns: no run leaves anything behind in `java.io.tmpdir`. No
  * entry mutates a session conf another one reads. The streaming entry
  * rides along because it is the one entry that still sets (and
  * restores) a session conf around its start.
  */
class StagedConcurrencySpec extends SparkSuite {

  private val entries = Seq("dd_minhash_staged", "dd_minhash_staged",
    "dd_decontaminate_fuzzy_staged", "dd_embed_hi768_staged",
    "ann_ivf_staged", "st_dedup")

  /** MD5 over the sorted rows — the driver's order-free result identity. */
  private def rowHash(df: DataFrame): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(df.collect().map(_.toString).sorted.mkString("\n").getBytes("UTF-8"))
      .map("%02x".format(_)).mkString

  private def run(name: String): String = rowHash(SparkEntry.queries(name)(spark, sf))

  private def tmpEntries(): Set[String] =
    Option(new java.io.File(System.getProperty("java.io.tmpdir")).list())
      .map(_.toSet).getOrElse(Set.empty)

  test("staged entries run concurrently in one session, each equal to its serial run") {
    val serial = entries.distinct.map(n => n -> run(n)).toMap
    // After the serial runs, so the content-keyed stages that live
    // across calls (the streaming sentinel) already exist.
    val tmpBefore = tmpEntries()
    val partitions = spark.conf.get("spark.sql.shuffle.partitions")
    val pool = Executors.newFixedThreadPool(entries.size)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutorService(pool)
    // Every entry starts together, so their staging writes, plan
    // construction and jobs overlap.
    val start = new CyclicBarrier(entries.size)
    // Wait for every run, so a failure reports all of them.
    val outcomes =
      try entries.map(n => n -> Future { start.await(); run(n) })
        .map { case (n, f) => n -> Await.ready(f, 10.minutes).value.get }
      finally {
        pool.shutdown()
        pool.awaitTermination(1, TimeUnit.MINUTES)
      }
    val wrong = outcomes.filterNot { case (n, got) => got.toOption.contains(serial(n)) }
    assert(wrong.isEmpty, "concurrent runs differ from their serial runs: " +
      wrong.map { case (n, got) => s"$n -> ${got.fold(_.toString, h => s"rows $h")}" }
        .mkString("; "))
    assert(spark.conf.get("spark.sql.shuffle.partitions") == partitions,
      "the session's shuffle partitions must be back at their prior value")
    val left = tmpEntries() -- tmpBefore
    assert(left.isEmpty,
      s"staging outlived its call: ${left.toSeq.sorted.mkString(", ")}")
  }
}
