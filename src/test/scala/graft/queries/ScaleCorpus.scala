package graft.queries

import org.apache.spark.sql.functions._

/** Scale-curve corpus generator: stages 1× / 3× / 10× versions of the
  * sf0.1 `documents` table so the heavy dedup family can be probed at
  * three scale points and fitted for a time-vs-rows exponent
  * (scripts/scale_probes.sh → SCALE_r{N}.json).
  *
  * Growth uses a mosaic construction: replica r's chunk j (j = 0..11) is
  * words [4j, 4j+4) of source doc (a + j·b) mod N, with a = r mod N,
  * b = 1 + r div N and N prime. Two replicas with the same stride never
  * pick the same doc at the same slot, and two with different strides
  * agree on at most one slot (j·(b₁−b₂) ≡ a₂−a₁ mod N has one root), so
  * any two replicas share at most one 4-word chunk — pairwise Jaccard
  * ≤ ~0.02, far below every near-dup threshold. Replicas add corpus BYTES
  * and organically growing shingle document-frequencies without
  * fabricating near-dup pairs, so each query's OUTPUT stays anchored to
  * the original docs while its WORK scales with the corpus — exactly
  * what a scaling exponent should measure. A replica does share single
  * 4-word chunks with its 12 source docs, so fingerprint families may
  * admit bounded extra candidate pairs (linear in replicas, never
  * quadratic) — the exponent fit absorbs that as measured work.
  *
  * All three scale points (INCLUDING the 1× copy) are re-staged through
  * the same repartition + writer, so every point sees the same file
  * layout / scan-parallelism regime — the driver's single-file sf0.1
  * parquet would otherwise make the 1× point a 1-partition-scan outlier
  * and bias the fitted exponent low.
  */
object ScaleCorpus {

  private val N = 4999 // prime ≤ the 5000 sf0.1 docs
  private val ChunkWords = 4
  private val ChunksPerReplica = 12
  private val ReplicaIdBase = 1000000L

  def main(args: Array[String]): Unit = {
    val outBase = args.headOption.getOrElse("/tmp/graft_scale")
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = graft.GraftSession("scale-corpus")

    val source = graft.Tables.documents(spark, sfDir)
      .filter(col("doc_id") < N)
      .select(col("doc_id"), split(col("text"), "\\s+").as("w"))

    def replicas(strides: Int) = spark.range(0L, strides.toLong * N)
      .select(col("id").as("r"),
        (col("id") % N).as("a"),
        expr(s"id DIV $N + 1").as("b")) // DIV: `/` would be double division
      .select(col("r"), col("a"), col("b"),
        explode(expr(s"sequence(0, ${ChunksPerReplica - 1})")).as("j"))
      .withColumn("src", (col("a") + col("j") * col("b")) % N)
      .join(source.select(col("doc_id").as("src"), col("w")), Seq("src"))
      .select(col("r"), col("j"),
        expr(s"slice(w, j * $ChunkWords + 1, $ChunkWords)").as("chunk"))
      .filter(size(col("chunk")) === ChunkWords)
      .groupBy(col("r"))
      .agg(array_join(
        flatten(expr("transform(array_sort(collect_list(struct(j, chunk))), x -> x.chunk)")),
        " ").as("text"))
      .select((col("r") + ReplicaIdBase).as("doc_id"), col("text"),
        lit("en").as("lang"), lit("mosaic").as("source"),
        length(col("text")).cast("long").as("n_chars"))

    val base = graft.Tables.documents(spark, sfDir)
    // sf3 (30×) exists for the dd_substring marginal-slope point (verdict
    // r8 #5): the doc family's steepest curve needs a far point to
    // distinguish "flattening" from "compounding". sf10 (100×, ~500k
    // docs) is the next decade of that same watch item (verdict r10 #5).
    // sf30 (300x, ~1.5M docs) is documents-only: the round-15 far decade
    // for dd_decontaminate_fuzzy (verdict r14 #3: 30->100x marginal 0.841
    // and rising - the next decade is measured, not argued) and
    // dd_substring_cut (verdict r14 #4: far marginal 1.297). The
    // embedding stagings stop at sf10 - no embedding-family query runs
    // past 100x.
    // sf20 (200x, ~1M docs, documents-only) exists for exactly one
    // instrument: the fuzzy coarsening guard's mid-bracket point
    // (VERDICT r16 #4). The 64-pairs/doc crossover was bracketed by
    // sf10 (23 pairs/doc, coarse LOSES 8.6 s) and the pre-floor 300x
    // collapse (127 pairs/doc, fine OOMs); the raw candidate mass grows
    // ~strides^1.55 on the mosaic construction, so strides=199 targets
    // ~60-80 pairs/doc - the unmeasured middle regime.
    for ((tag, strides) <- Seq("sf0.1" -> 0, "sf0.3" -> 2, "sf1" -> 9,
        "sf3" -> 29, "sf10" -> 99, "sf20" -> 199, "sf30" -> 299)) {
      val out = new java.io.File(s"$outBase/$tag/documents.parquet")
      if (!new java.io.File(out, "_SUCCESS").exists()) {
        val docs =
          if (strides == 0) base
          else base.unionByName(replicas(strides))
        val staged = docs
          .repartition(spark.sparkContext.defaultParallelism)
        staged.write.mode("overwrite").parquet(out.getAbsolutePath)
        val n = spark.read.parquet(out.getAbsolutePath).count()
        println(s"[scalecorpus] $tag: $n docs -> $out")
      } else println(s"[scalecorpus] $tag: already staged at $out")
    }
    stageEmbeddings(spark, sfDir, outBase)
    stageHi768(spark, outBase)
    spark.stop()
  }

  /** Production-dimension (768-d) corpus per scale point for
    * dd_embed_hi768's SCALE curve (round 12): exactly the entry's own
    * expand768 output, staged so the measured query excludes the md5
    * test-scaffolding expansion (a real corpus STORES its embeddings;
    * DedupSpec pins staged ≡ constructed). Replica ids expand to fresh
    * hash-derived vectors, so the 768-d corpus grows uniformly and the
    * plants (built in-query from consecutive ids) keep a linearly
    * growing true-positive load like the 64-d staging.
    */
  private def stageHi768(spark: org.apache.spark.sql.SparkSession,
                         outBase: String): Unit = {
    // sf10 included (ADVICE r12): scale_probes.sh runs dd_embed_hi768 at
    // the 100× point too — without staging here it silently fell back to
    // hi768Base's in-bench tmpdir staging, leaving the point's timing
    // hostage to which lap absorbed a ~GB parquet write.
    for (tag <- Seq("sf0.1", "sf0.3", "sf1", "sf3", "sf10")) {
      val out = new java.io.File(s"$outBase/$tag/embeddings_hi768.parquet")
      if (!new java.io.File(out, "_SUCCESS").exists()) {
        Dedup.expand768(spark, s"$outBase/$tag")
          .write.mode("overwrite").parquet(out.getAbsolutePath)
        val n = spark.read.parquet(out.getAbsolutePath).count()
        println(s"[scalecorpus] $tag: $n hi768 vectors -> $out")
      } else println(s"[scalecorpus] $tag: already staged at $out")
    }
  }

  /** Embedding scale points for the ANN / embed-dedup family (verdict r8
    * #3/#6): replicas are seeded Gaussian unit vectors — in 64-d they are
    * near-orthogonal to everything (pair cosine concentrates in ±4/√64 ≈
    * ±0.5 σ·4 → |cs| ≲ 0.5 at these counts), matching the driver
    * corpus's uniform-on-sphere regime, so they add WORK (corpus rows,
    * LSH occupancy, wider B) without fabricating near-dup structure. The
    * exact ann_topk baseline is recomputed per scale point, so recall
    * stays well-defined as replicas enter some top-5 sets. The query set
    * (vec_id % 50 = 0, id < 51200) selects only original ids — replicas
    * start at ReplicaIdBase — so the probe measures the SAME queries
    * against a growing corpus.
    */
  private def stageEmbeddings(spark: org.apache.spark.sql.SparkSession,
                              sfDir: String, outBase: String): Unit = {
    val baseRows = graft.Tables.embeddings(spark, sfDir).collect()
    val nBase = baseRows.length
    val dim = baseRows.head.getSeq[Float](1).length
    import spark.implicits._
    for ((tag, strides) <- Seq("sf0.1" -> 0, "sf0.3" -> 2, "sf1" -> 9,
        "sf3" -> 29, "sf10" -> 99)) {
      val out = new java.io.File(s"$outBase/$tag/embeddings.parquet")
      if (!new java.io.File(out, "_SUCCESS").exists()) {
        val rnd = new scala.util.Random(77001)
        val extra = (0 until strides * nBase).map { r =>
          val v = Array.fill(dim)(rnd.nextGaussian())
          val nrm = math.sqrt(v.map(x => x * x).sum)
          (ReplicaIdBase + r, v.map(x => (x / nrm).toFloat), 0)
        }
        val extraDf = extra.toDF("vec_id", "embedding", "label")
        val baseDf = graft.Tables.embeddings(spark, sfDir)
          .select(col("vec_id"), col("embedding"), col("label").cast("int").as("label"))
        val staged = baseDf.unionByName(extraDf)
          .repartition(spark.sparkContext.defaultParallelism)
        staged.write.mode("overwrite").parquet(out.getAbsolutePath)
        val n = spark.read.parquet(out.getAbsolutePath).count()
        println(s"[scalecorpus] $tag: $n vectors -> $out")
      } else println(s"[scalecorpus] $tag: already staged at $out")
    }
  }
}
