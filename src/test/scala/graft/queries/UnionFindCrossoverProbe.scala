package graft.queries

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Union-find ceiling crossover measurement (round 20, VERDICT r19 #5).
  *
  * Round 19 added the driver-side union-find arm to component
  * propagation for pair graphs under guardCeilingRows(PairRowBytes)
  * (= 4M rows ≈ 64 MB raw — the size class of a pair-relation
  * broadcast), with the distributed pointer-doubling loop unchanged above.
  * The arm-equivalence was spec-proven, and the fast arm's win was
  * measured at organic sizes (dd_clusters 2.59 → 1.46 s isolation), but
  * the CEILING itself was argued, not measured: no reading existed at a
  * decade where the loop arm engages naturally.
  *
  * This probe measures wall on BOTH arms at edge decades bracketing the
  * ceiling. Fixture: the ORGANIC sf0.1 minhash pair graph (real
  * component-size distribution — near-dup clusters, not synthetic
  * chains) replicated across disjoint id ranges until each decade's
  * edge count is reached, materialized (eager checkpoint) OUTSIDE the
  * timed window. Timed window per arm: propagate construction (the arm
  * runs its jobs/collect during construction) + a noop-sink
  * materialization of the labels (guide §1.4).
  *
  * Emits one `UNIONFIND_CROSSOVER {...}` JSON line per decade — the
  * SUBSTRSKEW committed-artifact pattern (UNIONFIND_r20.json).
  *
  * Run: SPARK_GRAFT_CPUS=32 sbt "Test/runMain graft.queries.UnionFindCrossoverProbe [sfDir]"
  */
object UnionFindCrossoverProbe {

  private def timeArm(spark: SparkSession, pairs: org.apache.spark.sql.DataFrame,
      ceiling: Long): (Double, Int, Long) = {
    // Unpersist only the blocks the arm itself creates — the FIXTURE
    // checkpoint must survive across arms (its lineage is truncated).
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val t0 = System.nanoTime()
    val (labels, rounds) =
      Dedup.propagateComponentsWithRounds(pairs, smallGraphCeiling = ceiling)
    labels.write.format("noop").mode("overwrite").save()
    val secs = (System.nanoTime() - t0) / 1e9
    // labeled-node count for the artifact (cheap second action, untimed
    // semantics-check: both arms must label the same node set)
    val n = labels.count()
    spark.sparkContext.getPersistentRDDs
      .filterNot { case (id, _) => before.contains(id) }
      .values.foreach(_.unpersist(blocking = false))
    (secs, rounds, n)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.1"
    val spark = graft.GraftSession("unionfind-crossover")
    val ceiling = Dedup.guardCeilingRows(Dedup.PairRowBytes)
    println(s"[ufprobe] ceiling=$ceiling rows (guardCeilingRows(PairRowBytes))")

    // Organic pair graph, collected once (small) and re-emitted as a
    // local relation so replication never re-runs the funnel.
    val organic = Dedup.minhash(spark, sfDir)
      .select(col("doc_a"), col("doc_b")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    println(s"[ufprobe] organic edges=${organic.length} from $sfDir")
    val maxId = organic.iterator.flatMap(p => Iterator(p._1, p._2)).max
    val off = math.max(100000000L, maxId + 1)
    import spark.implicits._
    val base = organic.toDF("doc_a", "doc_b")

    // Decades bracketing the ceiling (4M): both arms at each point.
    val decades = Seq(10000L, 100000L, 1000000L, ceiling, 2 * ceiling)
    decades.foreach { target =>
      val preDecade = spark.sparkContext.getPersistentRDDs.keySet
      val k = math.max(1L, (target + organic.length - 1) / organic.length)
      val pairs = spark.range(0L, k).crossJoin(base)
        .select((col("doc_a") + col("id") * off).as("doc_a"),
          (col("doc_b") + col("id") * off).as("doc_b"))
        .localCheckpoint() // fixture materialized outside the timed window
      val edges = k * organic.length
      // warm-up at the smallest decade only (JIT/codegen for both arms)
      if (target == decades.head) {
        timeArm(spark, pairs, Long.MaxValue); timeArm(spark, pairs, 0L)
      }
      val (fastSec, _, fastN) = timeArm(spark, pairs, Long.MaxValue)
      val (loopSec, rounds, loopN) = timeArm(spark, pairs, 0L)
      require(fastN == loopN,
        s"arm disagreement at $edges edges: fast labeled $fastN, loop $loopN")
      println(f"""UNIONFIND_CROSSOVER {"edges":$edges,"replicas":$k,""" +
        f""""fastSec":$fastSec%.2f,"loopSec":$loopSec%.2f,"loopRounds":$rounds,""" +
        f""""nodes":$fastN,"aboveCeiling":${edges > ceiling}}""")
      // drop this decade's fixture blocks before building the next
      spark.sparkContext.getPersistentRDDs
        .filterNot { case (id, _) => preDecade.contains(id) }
        .values.foreach(_.unpersist(blocking = false))
    }
    spark.stop()
  }
}
