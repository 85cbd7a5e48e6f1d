package graft.sources

import graft.{SparkSuite, Tables}
import org.apache.spark.sql.functions._
import java.nio.file.Files

/** Source/sink format coverage beyond the reference's whole-file text
  * (SURVEY.md §2.3 "absent" category): CSV and JSON-lines round-trips
  * preserve values and schema; both formats are the standard interchange
  * edges of a training-data pipeline.
  */
class SourceSinkSpec extends SparkSuite {

  private def roundTrip(fmt: String): Unit = {
    withTempDir(s"graft-$fmt") { outPath =>
      val out = outPath.toString
      val src = Tables.nation(spark, sf)
      src.write.mode("overwrite")
        .option("header", "true")
        .format(fmt).save(out)
      val back = spark.read
        .option("header", "true").option("inferSchema", "true")
        .format(fmt).load(out)
      // Field order and integer width differ by format (JSON: alphabetical
      // fields, numbers as bigint) — compare by name over normalized types.
      def norm(df: org.apache.spark.sql.DataFrame): Seq[(Long, String, Long)] =
        df.select(col("n_nationkey").cast("long"), col("n_name"),
          col("n_regionkey").cast("long"))
          .orderBy("n_nationkey").collect()
          .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq
      assert(norm(src) == norm(back), s"$fmt round-trip changed data")
    }
  }

  test("csv round-trip") { roundTrip("csv") }
  test("json-lines round-trip") { roundTrip("json") }
  // ORC ships in spark-sql (orc-core on the unmanaged classpath); Avro
  // would need the spark-avro connector jar, absent from /opt/spark/jars.
  test("orc round-trip") { roundTrip("orc") }

  test("compaction: small files merge to n range-clustered files with disjoint key ranges") {
    import java.nio.file.{Files => JFiles, Paths}
    import scala.jdk.CollectionConverters._
    withTempDir("graft-small") { inPath =>
      val in = inPath.toString
      withTempDir("graft-compact") { outPath =>
        val out = outPath.toString
        // Simulate incremental ingest: 64 tiny files.
        Tables.orders(spark, sf).repartition(64)
          .write.mode("overwrite").parquet(in)
        Maintenance.compactAndCluster(spark, in, out, 4, "o_orderkey")
        val parts = JFiles.list(Paths.get(out)).iterator().asScala
          .map(_.toString).filter(_.endsWith(".parquet")).toSeq
        assert(parts.size == 4, s"expected 4 compacted files, got ${parts.size}")
        // Range clustering: per-file key ranges must not overlap, so a range
        // predicate prunes whole files via parquet min/max stats.
        val ranges = parts.map { p =>
          val r = spark.read.parquet(p)
            .agg(min("o_orderkey"), max("o_orderkey")).head()
          (r.getLong(0), r.getLong(1))
        }.sortBy(_._1)
        ranges.sliding(2).foreach {
          case Seq((_, hi), (lo2, _)) => assert(hi <= lo2, s"overlapping ranges: $ranges")
          case _ =>
        }
        // No rows lost.
        assert(spark.read.parquet(out).count() == Tables.orders(spark, sf).count())
      }
    }
  }

  test("partitioned parquet write prunes partitions on read") {
    withTempDir("graft-part") { outPath =>
      val out = outPath.toString
      Tables.orders(spark, sf)
        .withColumn("status", col("o_orderstatus"))
        .write.mode("overwrite").partitionBy("status").parquet(out)
      val one = spark.read.parquet(out).filter(col("status") === "O")
      val plan = one.queryExecution.executedPlan.toString
      // Partition pruning: the scan's partition filter carries the predicate.
      assert(plan.contains("PartitionFilters: [isnotnull(status"),
        s"expected partition pruning in:\n$plan")
      val expected = Tables.orders(spark, sf)
        .filter(col("o_orderstatus") === "O").count()
      assert(one.count() == expected)
    }
  }
}
