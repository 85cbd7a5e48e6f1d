package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Tables

/** Corpus-level operators a pretraining data pipeline runs besides dedup:
  * term weighting, repetition signals, eval-set decontamination, and
  * deterministic source mixing. All are oracle-checked (plain SQL
  * restatements) and shuffle at most O(tokens) rows on bounded keys.
  */
object CorpusOps {

  /** ta_tfidf — top-3 terms per document by tf·idf.
    *
    * tf = in-doc term count; idf = ln(N/df) with N from a 1-row global
    * count broadcast (no driver action). The per-doc rank is a window, but
    * unlike the ANN case that is the right tool here: the partition is one
    * document's distinct terms (bounded by doc length), there is no
    * cross-row fan-out to collapse, and any aggregate would shuffle the
    * same O(doc·terms) rows. Ranking uses the ROUNDED score so Spark and
    * the oracle order identically at double-precision edges.
    */
  def tfidf(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
    val terms = docs.select(col("doc_id"),
      explode(split(col("text"), "\\s+")).as("term"))
      .filter(col("term") =!= "")
    val tf = terms.groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))
    val df = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val n = docs.agg(count(lit(1)).as("n_docs"))
    val scored = tf.join(df, Seq("term"))
      .crossJoin(broadcast(n))
      .withColumn("tfidf",
        round(col("tf") * log(col("n_docs").cast("double") / col("df")), 4))
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("tfidf").desc, col("term"))
    scored
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 3)
      .select(col("doc_id"), col("term"), col("rank").cast("int").as("rank"),
        col("tf"), col("tfidf"))
  }

  val tfidfSql: String =
    raw"""WITH terms AS (
         |  SELECT doc_id, unnest(list_filter(regexp_split_to_array(text, '\s+'),
         |    t -> t != '')) AS term
         |  FROM documents),
         |tf AS (SELECT doc_id, term, count(*) AS tf FROM terms GROUP BY 1, 2),
         |df AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
         |n AS (SELECT count(*) AS n_docs FROM documents),
         |scored AS (
         |  SELECT doc_id, tf.term, tf,
         |    round(tf * ln(n_docs * 1.0 / df), 4) AS tfidf
         |  FROM tf JOIN df ON tf.term = df.term CROSS JOIN n)
         |SELECT doc_id, term, rank, tf, tfidf FROM (
         |  SELECT *, CAST(row_number() OVER (PARTITION BY doc_id
         |    ORDER BY tfidf DESC, term) AS INT) AS rank
         |  FROM scored) t
         |WHERE rank <= 3""".stripMargin

  /** ta_repetition — within-document repetition signal (the Gopher-style
    * "fraction of duplicate n-grams" quality filter): 1 − distinct/total
    * word-3-grams. Pure per-row column arithmetic — no shuffle at all;
    * docs too short for a 3-gram are excluded (matches the oracle's
    * len ≥ 3 gate).
    */
  def repetition(spark: SparkSession, sfDir: String): DataFrame = {
    val sh = graft.functions.WordShingles.wordShingles(col("text"), 3)
    Tables.documents(spark, sfDir)
      .select(col("doc_id"), sh.as("sh"))
      .filter(size(col("sh")) > 0)
      .select(col("doc_id"),
        size(col("sh")).cast("long").as("n_ngrams"),
        size(array_distinct(col("sh"))).cast("long").as("n_distinct"),
        round(lit(1.0) - size(array_distinct(col("sh"))).cast("double")
          / size(col("sh")).cast("double"), 4).as("rep_ratio"))
  }

  val repetitionSql: String =
    raw"""WITH tok AS (
         |  SELECT doc_id, regexp_split_to_array(text, '\s+') AS w FROM documents
         |  WHERE len(regexp_split_to_array(text, '\s+')) >= 3),
         |sh AS (
         |  SELECT doc_id, [w[i] || ' ' || w[i+1] || ' ' || w[i+2]
         |                  for i in generate_series(1, len(w)-2)] AS g
         |  FROM tok)
         |SELECT doc_id,
         |  CAST(len(g) AS BIGINT) AS n_ngrams,
         |  CAST(len(list_distinct(g)) AS BIGINT) AS n_distinct,
         |  round(1.0 - len(list_distinct(g)) * 1.0 / len(g), 4) AS rep_ratio
         |FROM sh""".stripMargin

  /** ta_perplexity — unigram-LM quality score (the CCNet-style perplexity
    * filter, exact-arithmetic form): train an add-1-smoothed unigram model
    * on the corpus itself, score each doc by its mean token negative
    * log-probability. Boilerplate-heavy docs score low, rare-token noise
    * scores high — the standard cheap signal between heuristics and a
    * real LM. The model is one (term, count) table — domain-vocabulary
    * sized, broadcast-joined back to the token stream; totals ride a
    * 1-row broadcast. Rounded to 4 so double summation order (Spark
    * unordered vs DuckDB) can't surface.
    */
  def perplexity(spark: SparkSession, sfDir: String): DataFrame = {
    val terms = Tables.documents(spark, sfDir)
      .select(col("doc_id"), explode(split(col("text"), "\\s+")).as("term"))
      .filter(col("term") =!= "")
    val cnt = terms.groupBy(col("term")).agg(count(lit(1)).as("c"))
    val tot = terms.agg(count(lit(1)).as("total"))
      .crossJoin(cnt.agg(count(lit(1)).as("v")))
    terms
      .join(broadcast(cnt), Seq("term"))
      .crossJoin(broadcast(tot))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"),
        round(avg(-log((col("c") + 1.0) / (col("total") + col("v")))), 4)
          .as("mean_nll"))
  }

  val perplexitySql: String =
    raw"""WITH terms AS (
         |  SELECT doc_id, unnest(list_filter(regexp_split_to_array(text, '\s+'),
         |    t -> t != '')) AS term
         |  FROM documents),
         |cnt AS (SELECT term, count(*) AS c FROM terms GROUP BY 1),
         |tot AS (SELECT (SELECT count(*) FROM terms) AS total,
         |               (SELECT count(*) FROM cnt) AS v)
         |SELECT doc_id, count(*) AS n_tokens,
         |  round(avg(-ln((c + 1.0) / (total + v))), 4) AS mean_nll
         |FROM terms JOIN cnt USING (term) CROSS JOIN tot
         |GROUP BY doc_id""".stripMargin

  /** dd_decontaminate — benchmark decontamination: training documents that
    * share an 8-gram with any held-out/eval document (here: the
    * deterministic doc_id % 7 = 0 subset standing in for an eval
    * benchmark). The join is bipartite on distinct 8-grams — hash-join
    * shaped, O(shared-gram pairs) output, never all-pairs. 8-grams are
    * near-unique in real text; grams above the df cap (1000) on EITHER
    * side are dropped — per-key join output is df_eval·df_train, so a
    * boilerplate gram must be capped wherever it is hot (an eval-cool but
    * train-hot gram is still a skew bomb, and a df-1000+ gram carries no
    * contamination signal anyway). Cap far above any test-data df, so
    * output is unchanged there — the oracle states the uncapped form.
    */
  private[queries] val EvalModulus = 7
  private[queries] val EvalGramDfCap = 1000

  def decontaminate(spark: SparkSession, sfDir: String): DataFrame = {
    // Hash-compacted BEFORE the distinct (round 19, the hashedShingles
    // rationale at n = 8): the gram never reaches the output — only the
    // per-pair count of distinct shared grams does — so the distinct,
    // the df cap, and the bipartite join all run on 8 B longs instead
    // of ~60 B gram strings. Identical output absent xxhash64 collisions
    // among a corpus's distinct 8-grams (BasisFloorSpec's sentinel
    // covers the 8-gram basis on every driver corpus; at 100 TB a
    // collision perturbs one pair's count by 1 — the hashCompact
    // exactness argument, an order below the 3-gram case since 8-grams
    // are near-unique).
    val grams = Tables.documents(spark, sfDir)
      .select(col("doc_id"),
        explode(graft.functions.WordShingles.wordShingles(col("text"), 8)).as("g"))
      .select(col("doc_id"), xxhash64(col("g")).as("gram"))
      .distinct()
    // Hot on either side → capped BEFORE splitting (per-key join output
    // is df_eval · df_train, so the cap must see the combined df).
    val hot = grams.groupBy(col("gram")).agg(count(lit(1)).as("df"))
      .filter(col("df") > EvalGramDfCap).select(col("gram"))
    val kept = grams.join(broadcast(hot), Seq("gram"), "left_anti")
    val eval = kept.filter(col("doc_id") % EvalModulus === 0)
      .select(col("doc_id").as("eval_doc"), col("gram"))
    val train = kept.filter(col("doc_id") % EvalModulus =!= 0)
      .select(col("doc_id").as("train_doc"), col("gram"))
    eval.join(train, Seq("gram"))
      .groupBy(col("train_doc"), col("eval_doc"))
      .agg(count(lit(1)).as("n_shared_8grams"))
  }

  val decontaminateSql: String =
    raw"""WITH tok AS (
         |  SELECT doc_id, regexp_split_to_array(text, '\s+') AS w FROM documents
         |  WHERE len(regexp_split_to_array(text, '\s+')) >= 8),
         |sh AS (
         |  SELECT DISTINCT doc_id,
         |    unnest([w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' || w[i+3] || ' ' ||
         |            w[i+4] || ' ' || w[i+5] || ' ' || w[i+6] || ' ' || w[i+7]
         |            for i in generate_series(1, len(w)-7)]) AS gram
         |  FROM tok)
         |SELECT t.doc_id AS train_doc, e.doc_id AS eval_doc,
         |  count(*) AS n_shared_8grams
         |FROM sh e JOIN sh t ON e.gram = t.gram
         |WHERE e.doc_id % 7 = 0 AND t.doc_id % 7 != 0
         |GROUP BY 1, 2""".stripMargin

  /** dd_decontaminate_fuzzy — NEAR-duplicate benchmark decontamination:
    * training documents whose 3-gram Jaccard similarity to any eval
    * document (doc_id % 7 = 0, the same deterministic benchmark stand-in
    * as dd_decontaminate) is ≥ 0.5. The exact 8-gram entry catches
    * verbatim leakage only — a benchmark item paraphrased, truncated, or
    * lightly reworded shares few exact 8-grams but keeps high set
    * overlap, which is why production decontamination (GPT-3 appendix C,
    * Gopher §A.4-style) runs an n-gram-overlap pass beside the exact
    * one.
    *
    * RECALL CONTRACT (round 17, ADVICE r16 — the activated-regime bound
    * stated here, where a user reads it, not only at the guard site):
    * on every oracle-scale corpus the output is EXACTLY the stated
    * quadratic form (all guards measured inert, CI-sentineled). In the
    * activated regimes the entry is an ε-recall approximation with
    * per-true-pair miss bounds: (a) the sketch cut (raw candidate mass
    * > SketchCutMinMass) adds ≤ 1.2e-5 at exactly J = τ, vanishing
    * above; (b) hot-bucket coarsening (mass > max(CoarseMinMass,
    * CoarsePairsPerDoc·docs)) affects only pairs whose EVERY collision
    * site is hot — such a pair survives via full 4-row coarse bands,
    * P = 1−(1−J⁴)^16: ≈ 0.65 at J = τ = 0.5 (a ~35% at-threshold miss,
    * the price of the regime existing at all — the fine join OOMs
    * there), 0.90 at J = 0.7, 1−4e-8 at the J ≥ 0.9 similarities real
    * contamination shows; pairs with ANY cold collision site are
    * unaffected (~1e-4 family baseline). FuzzyCoarseSpec pins both
    * sides of that boundary with planted at-threshold hot-routed pairs;
    * FUZZYCOARSE_r{N} differentials prove row identity where the guard
    * is cold and where it engages on organic corpora.
    *
    * Scale path: the SAME 64-perm MinHash signatures as dd_minhash over
    * the df-capped shingle basis, banded 2 rows × 32 bands — the S-curve
    * position for J ≥ 0.5 (per-pair miss (1−J²)³² ≈ 1e-4 at the
    * threshold, vanishing above; the corpus' qualifying pairs all sit at
    * J ≥ 0.9 where miss ≈ 4e-23) — then a BIPARTITE bucket join (eval
    * side × train side only, never train×train), exact Jaccard verify on
    * the candidate pairs. A signature-agreement sketch cut
    * ([[Dedup.sketchCutPairs]], round 14) prunes the candidate stream
    * before verification: at τ = 0.5 the 2-row bands admit J ≈ 0.15
    * pairs with p ≈ 0.5, so the RAW candidate set grows ~quadratically
    * at corpus scale while true pairs stay rare — the cut dismisses
    * that mass on 520 B of already-materialized signature (miss
    * ≈ 1.2e-5 for a true pair at exactly τ, an order under the banding
    * miss), so the expensive shingle re-join touches survivors only.
    * Exact verification work is then O(surviving pairs), not
    * O(eval·train); the df cap bounds every bucket the same way
    * dd_minhash's does. Oracle states the exact quadratic bipartite form
    * — equality holds because candidates are exact-verified and the
    * combined banding + sketch miss (≈ 1.1e-4) is negligible at the
    * pairs' actual similarities (the dd_minhash ≡ dd_ngram_jaccard
    * argument, bipartite).
    */
  private val FuzzyTau = 0.5
  private[queries] val FuzzyBandRows = 2

  /** Candidate-pair count above which the sketch cut pays for itself:
    * the cut's two signature attaches cost ~0.4 s at sf0.1 (same-window
    * A/B, where candidates are a few hundred and verification is already
    * cheap), while at the 30× staging the raw candidate set reads ~1M
    * pairs and the cut deletes 15 s of bipartite shingle verification.
    * The switch is keyed on the measured raw join MASS (round 16 — the
    * same occ-aggregate scalar the coarse guard reads, known before any
    * pair row exists; previously the raw set's materialized distinct
    * count, which cost a full shuffle + checkpoint of the candidate
    * stream just to decide).
    *
    * UNITS (round 17, ADVICE r16): the round-16 switch changed what this
    * constant is compared against — raw pre-distinct join MASS
    * (Σ eval·train over fine buckets), not the distinct candidate-pair
    * count it was originally calibrated on — hence the rename from
    * SketchCutMinPairs. The two differ by the duplication factor of
    * bucket collisions: organically ~1.007 at the 100× staging
    * (11.65M mass vs 11.57M distinct, FUZZYCOARSE_r16), but a
    * heavily-duplicated corpus can collide the same pair in many
    * buckets and engage the cut well under 100k DISTINCT pairs. That
    * early engagement is the cheap direction by construction: the cut
    * costs two signature attaches (~0.4 s at sf0.1) and its miss
    * (~1.2e-5 per true pair at exactly τ) is an order under the banding
    * miss — so the constant is deliberately kept at its historical
    * value rather than rescaled by a corpus-dependent mass/distinct
    * ratio. Only the expensive direction (cut NOT engaging on a large
    * candidate set) would need a rescale, and mass ≥ distinct count
    * makes that impossible.
    */
  private[queries] val SketchCutMinMass = 100000L

  def decontaminateFuzzy(spark: SparkSession, sfDir: String): DataFrame =
    decontaminateFuzzyCut(spark, sfDir, SketchCutMinMass)

  /** dd_decontaminate_fuzzy_staged — the staged-basis deployment form
    * as a correctness-gated entry (round 17, the dd_minhash_staged
    * rationale): stage the compacted basis to a directory scoped to this
    * call ([[graft.sources.Staging.scoped]]), pass it to the `sharedBasis`
    * dispatch, and run the same query. Same oracle as
    * dd_decontaminate_fuzzy. This is the family where staging wins
    * robustly (STAGED_r17: 26.9 → 18.8 s at the 100× staging, R* = 1
    * in both measured sessions) — the entry benches the form a real
    * ingest pipeline would run.
    */
  def decontaminateFuzzyStaged(spark: SparkSession, sfDir: String): DataFrame =
    graft.sources.Staging.scoped("graft_fuzzy_staged") { staging =>
      Dedup.stageBasis(spark, sfDir, staging)
      decontaminateFuzzyCoarse(spark, sfDir, SketchCutMinMass, -1L, Some(staging))
    }

  /** Core with the sketch-cut threshold injectable so the spec can force
    * both regimes on the same corpus (cut-on ≡ cut-off row identity —
    * the CapBindingSpec pattern).
    */
  /** Minimum surviving shingles for a doc to be COMPARABLE by the fuzzy
    * family (round 15). The 300× staging measured the failure mode this
    * floor exists for: when the corpus is so duplication-saturated that
    * the df cap deletes almost every shingle (1.5M docs → 423k signed
    * docs averaging 1.2 surviving shingles), MinHash signatures
    * degenerate — a doc reduced to one residual shingle scores J = 1.0
    * against every doc sharing it, and the candidate set exploded to
    * 54M pairs of which the sketch cut (correctly — the signatures
    * really do agree) kept 53M, OOMing verification. A doc whose
    * content the df cap classified as corpus-wide boilerplate carries
    * no discriminative fingerprint; production pipelines skip such docs
    * rather than compare noise (the CCNet/Gopher "too little content
    * after cleaning" discipline). Not restated in the oracle for the
    * same reason the df cap isn't: at every oracle scale the floor is
    * measured inert (min shingles/doc = 8 at sf0.01 AND sf0.1 vs the
    * floor of 5); FuzzyFloorSpec pins the planted behavior.
    * Round 16: hoisted to the shared signature site
    * ([[Dedup.DegenerateBasisFloor]] / [[Dedup.flooredSigs]]) — every
    * capped-basis family (dd_minhash, dd_winnow, the delta lifecycles)
    * now carries the same floor; this alias keeps the fuzzy family's
    * specs and instruments reading one name.
    */
  private[queries] val MinCappedShingles = Dedup.DegenerateBasisFloor

  /** Fine-bucket occupancy above which a (band, bh) bucket is HOT and its
    * members are re-keyed at coarse (2×FuzzyBandRows-row) bands instead
    * of joining all-pairs at the fine key (round 16, VERDICT r15 #1).
    * The 100× staging measured the regime this exists for: at PARTIAL
    * basis degeneration the floor is mostly inert (docs keep ≥ 5
    * surviving shingles) but 2-row bands at τ = 0.5 are so unselective
    * (a J ≈ 0.15 pair collides in ≥ 1 of 32 bands with p ≈ 0.5) that
    * the raw bipartite candidate mass grows ~quadratically in the hot
    * buckets — the family's worst marginal (0.581 at 30→100×) was all
    * candidate generation. A 64-member bucket contributes ≤ ~10³ pairs;
    * past that the bucket is boilerplate-driven and its low-J mass is
    * what coarsening dismisses.
    */
  private[queries] val HotBucketOcc = 64L

  /** Absolute floor of the coarsening guard: below this raw bipartite
    * join mass (Σ over fine buckets of eval·train occupancy — the exact
    * pre-`distinct` candidate row count) the coarse path never engages,
    * whatever the per-doc ratio says. Never approached at oracle scales
    * (sf0.01 mass ≈ 10³), so the DuckDB oracle — like the df cap and
    * the floor — does not restate the coarsening.
    */
  private[queries] val CoarseMinMass = 8000000L

  /** Relative arm of the guard: coarsening engages only past this many
    * raw candidate pairs per SIGNED DOC — the scale-invariant signature
    * of the quadratic regime the coarse path exists for. Measured both
    * ways (round 16, FUZZYCOARSE_r16): at the 100× staging the mass
    * reads 23 pairs/doc and the coarse path LOSES 8.6 s warm (its
    * routing joins over the corpus-linear bucket stream cost more than
    * the candidate+sketch work they avoid), while the pre-floor 300×
    * collapse read 127 pairs/doc — unambiguous quadratic blow-up where
    * the fine join OOMs outright. 64 sits at the geometric middle:
    * below it the linear terms dominate and the fine join is simply
    * cheaper; above it candidate mass is no longer explainable by
    * corpus growth and must be bucket-degeneracy.
    *
    * MID-BRACKET MEASURED (round 17, VERDICT r16 #4 — the sf20 staging
    * built for exactly this): at 90.7 pairs/doc (32.4M mass, 357k
    * signed docs) the shipped guard ENGAGES and the middle regime is
    * FLAT — the committed gate recapture reads coarse 26.3 s vs fine
    * 24.3 s warm (~8%), an earlier same-round session read 28.0 vs
    * 25.3 s (~11%); rows 35 ≡ 35 in both (FUZZYCOARSE_r17 carries the
    * recapture). The constant is CONFIRMED, not re-derived: the
    * crossover where coarse outright wins sits between 91 and 127
    * pairs/doc, but the cost asymmetry decides the placement — early
    * engagement costs a ~8–11% wall premium (the two measured runs
    * at 91/doc),
    * late engagement costs the fine join's OOM collapse (the pre-floor
    * 300× regime). 64 buys that insurance at the price of a flat
    * middle, which is the right trade for a guard whose activated
    * regime is also ε-lossy (the recall contract above).
    */
  private[queries] val CoarsePairsPerDoc = 64L

  private[queries] def decontaminateFuzzyCut(spark: SparkSession,
      sfDir: String, cutMinMass: Long): DataFrame =
    decontaminateFuzzyCoarse(spark, sfDir, cutMinMass, -1L, None)

  private[queries] def decontaminateFuzzyCoarse(spark: SparkSession,
      sfDir: String, cutMinMass: Long, coarseMinMass: Long,
      staging: Option[String]): DataFrame = {
    // Capped over the FULL corpus basis before signing (the cap-ordering
    // invariant minhashFrom documents); checkpointed — signatures,
    // candidate semi-join, and verification sizes all branch off it.
    // Lazy (round 19): the occ-totals aggregate below is the
    // materializing action — a single scan of this relation — so the
    // eager checkpoint's separate job is saved.
    val sh = Dedup.cappedShingles(spark, sfDir, staging).localCheckpoint(eager = false)
    // Signatures are materialized ONCE and serve twice: band keys for
    // candidate generation, and the per-pair Jaccard sketch that prunes
    // the candidate stream (round 14). At τ = 0.5 the 2-row bands are
    // deliberately unselective (banding miss (1−τ²)³² ≈ 1e-4), which at
    // 30× staged scale admitted ~1M candidate pairs covering 83% of the
    // corpus — the downstream bipartite shingle join was doing
    // near-all-corpus work for 57 true pairs (15.9 s of a 31.9 s wall,
    // round 14). The sketch cut dismisses the low-J
    // candidate mass on signature agreement before any shingle re-join.
    // LAZY checkpoint: the signature blocks materialize as a side effect
    // of the candidate job (buckets consume sigs), so the small-corpus
    // path pays no extra barrier; the cut branch then reads the same
    // blocks for its attaches.
    // Degenerate-basis floor (round 15): only docs with >=
    // MinCappedShingles surviving shingles are COMPARABLE (see the
    // constant's note) — the count rides the signature aggregate for
    // free (minhashSigs' nsh column), so the floor is ONE filter over
    // the signature relation: zero extra jobs, plan-identical to the
    // pre-floor form wherever the floor is inert (all driver corpora and
    // stagings through 30×). The verification tail needs no floor of its
    // own — candidate docs derive from floored signatures, so the
    // shingle semi-join is floored transitively.
    val sigs = Dedup.flooredSigs(sh).localCheckpoint(eager = false)
    val buckets = Dedup.bucketsFromSigs(sigs, FuzzyBandRows)
    def bipartite(b: DataFrame, keys: Seq[String]): DataFrame = {
      // SHUFFLE_HASH on the eval side of every bipartite join: the eval
      // stratum is 1/EvalModulus of the corpus by construction, so it is
      // always the bounded build side, and the default sort-merge would
      // sort the ~(EvalModulus−1)× larger train side — the
      // dd_embed_hi768 probe-join lesson applied to the bipartite family.
      val e = b.filter(col("doc_id") % EvalModulus === 0)
        .select(keys.map(col) :+ col("doc_id").as("eval_doc"): _*)
      val t = b.filter(col("doc_id") % EvalModulus =!= 0)
        .select(keys.map(col) :+ col("doc_id").as("train_doc"): _*)
      e.hint("SHUFFLE_HASH").join(t, keys)
        .select(col("train_doc"), col("eval_doc"))
    }
    // Hot-bucket coarsening guard (round 16): the raw join mass
    // Σ eval·train over fine buckets — the exact row count the bipartite
    // join below would emit before distinct — is measured from a
    // map-side-combining two-level aggregate BEFORE any pair row exists.
    // Under the guard the plan below is the round-15 plan unchanged.
    // The shipped decision (coarseMinMass < 0) is ADAPTIVE: engage only
    // past BOTH the absolute mass floor and CoarsePairsPerDoc × signed
    // docs (the doc count rides the same aggregate: Σ(ne+nt) is exactly
    // 32 band rows per signed doc). An injected threshold ≥ 0 overrides
    // the whole decision — the differential gate forces both regimes.
    val occ = buckets.select(col("band"), col("bh"),
        (col("doc_id") % EvalModulus === 0).as("is_eval"))
      .groupBy(col("band"), col("bh"))
      .agg(count_if(col("is_eval")).as("ne"),
        count_if(!col("is_eval")).as("nt"))
    val totals = occ.agg(
      coalesce(sum(col("ne") * col("nt")), lit(0L)).as("mass"),
      coalesce(sum(col("ne") + col("nt")), lit(0L)).as("bandRows")).head()
    val mass = totals.getLong(0)
    val nSigned = totals.getLong(1) / (Dedup.NumPerms.toLong / FuzzyBandRows)
    val threshold =
      if (coarseMinMass >= 0) coarseMinMass
      else math.max(CoarseMinMass, CoarsePairsPerDoc * nSigned)
    val candPre =
      if (mass <= threshold) bipartite(buckets, Seq("band", "bh"))
      else {
        // Past the guard: members of HOT fine buckets are re-keyed at
        // coarse bands (2×FuzzyBandRows rows — coarse band k covers fine
        // bands 2k, 2k+1 of the SAME signature), so a pair colliding
        // only on boilerplate-driven hot buckets must also agree on the
        // partner band to stay a candidate. Recall: a true pair is
        // caught by any of its collision sites — cold sites are
        // untouched, and at a hot site the conditional survival is J²
        // (both docs already agree on the hot band's rows), so the at-τ
        // miss only moves within the regime the guard confines to
        // staged scales; at the similarities contamination actually
        // shows (J ≥ 0.9) the all-hot worst case is (1−J⁴)^16 ≈ 4e-8.
        // Differentially gated at a staged point where it engages
        // (FuzzyCoarseCheck: coarse-on ≡ coarse-off row identity).
        // occ is recomputed here rather than checkpointed: the cold
        // path — every oracle corpus — must not pay a materialization
        // barrier for the hot path's second consumer.
        // Eager: both anti/semi joins below read it in one job.
        val hotK = occ.filter(col("ne") + col("nt") > HotBucketOcc)
          .select(col("band"), col("bh"))
          .localCheckpoint()
        val cold = buckets.join(hotK, Seq("band", "bh"), "left_anti")
        val hot = buckets.join(hotK, Seq("band", "bh"), "left_semi")
        // A doc hot in fine band 2k and 2k+1 re-keys ONCE at coarse k.
        val coarse = Dedup.bucketsFromSigs(sigs, FuzzyBandRows * 2)
          .select(col("doc_id"), col("band").as("cband"), col("bh"))
        val hotM = hot.select(col("doc_id"),
          (col("band") / 2).cast("int").as("cband")).distinct()
        bipartite(cold, Seq("band", "bh"))
          .unionByName(bipartite(
            hotM.join(coarse, Seq("doc_id", "cband")), Seq("cband", "bh")))
      }
    // Round 16: in the cut regime the distinct runs AFTER the sketch cut
    // — on the ~10⁻⁴ survivor volume, not the full candidate stream (the
    // dd_embed cascade's exact lesson, now applied to the Jaccard
    // family). The old form distinct'ed, checkpointed, and counted 11.6M
    // raw pairs at the 100× staging to remove 80k duplicates and decide
    // a threshold the occ aggregate ALREADY measures: the cut verdict is
    // deterministic per pair, so pruning commutes with dedup, and the
    // engage decision keys on `mass` — the exact pre-distinct row count
    // of the join above, measured before any pair row materializes.
    // Nothing of candidate volume is ever stored: join → sig attaches →
    // agreement filter → distinct(survivors) → checkpoint (60 rows at
    // 100×).
    val candidates =
      (if (mass > cutMinMass)
        Dedup.sketchCutPairs(candPre, sigs, FuzzyTau, "train_doc", "eval_doc")
      else candPre).distinct()
    // NOT checkpointed since round 20: the distinct's exchange is
    // computed once for all three consumers via ReuseExchange/AQE stage
    // reuse, and AQE picks the pair joins' regime from the MEASURED
    // stage size. NOTE the asymmetry with Dedup.lshFunnel, which keeps
    // a candidates checkpoint (plan truncation only, lazy, un-counted,
    // round 20): re-adding the same lazy checkpoint
    // HERE was measured 2.66 → 3.6–3.9 s (alternating isolation arms,
    // both directions) — this subtree is small (sigs and sh are already
    // checkpointed leaves, so planning is cheap) and the checkpoint
    // only adds first-materialization serialization across the
    // concurrent SHUFFLE_HASH leaf stages. Keep the un-checkpointed
    // form here; the trade is measured, not assumed.
    // Exact verification restricted to candidate docs; the eval/train
    // split is a pure doc_id predicate, so each side is a filter.
    val candDocs = candidates.select(col("train_doc").as("doc_id"))
      .union(candidates.select(col("eval_doc").as("doc_id"))).distinct()
    // The one join-regime hint left in this family. Unhinted, the
    // planner cannot size candDocs and shuffles the corpus shingle
    // stream before AQE converts the join to a broadcast: alternating
    // isolation pairs at sf0.1 on 4 cores read
    // dd_decontaminate_fuzzy_staged at 4.14 / 3.05 / 3.92 s unhinted vs
    // 2.83 / 2.75 / 3.35 s at the parent. candDocs is bounded: below
    // the shipped sketch-cut threshold it holds at most
    // 2 × SketchCutMinMass docs, above it the cut's survivors (60 pairs
    // at the 100× staging).
    val shCand = sh.join(broadcast(candDocs), Seq("doc_id"), "left_semi")
    val evalSh = shCand.filter(col("doc_id") % EvalModulus === 0)
      .select(col("doc_id").as("eval_doc"), col("shingle"))
    val trainSh = shCand.filter(col("doc_id") % EvalModulus =!= 0)
      .select(col("doc_id").as("train_doc"), col("shingle"))
    val common = evalSh.hint("SHUFFLE_HASH").join(trainSh, Seq("shingle"))
      .groupBy(col("train_doc"), col("eval_doc"))
      .agg(count(lit(1)).as("c"))
      .join(candidates, Seq("train_doc", "eval_doc"), "left_semi")
    Dedup.scoreJaccard(common, shCand, FuzzyTau, "train_doc", "eval_doc")
  }

  val decontaminateFuzzySql: String =
    raw"""WITH tok AS (
         |  SELECT doc_id, regexp_split_to_array(text, '\s+') AS w FROM documents
         |  WHERE len(regexp_split_to_array(text, '\s+')) >= 3),
         |sh AS (
         |  SELECT DISTINCT doc_id,
         |    unnest([w[i] || ' ' || w[i+1] || ' ' || w[i+2]
         |            for i in generate_series(1, len(w)-2)]) AS shingle
         |  FROM tok),
         |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
         |common AS (
         |  SELECT t.doc_id AS train_doc, e.doc_id AS eval_doc, count(*) AS c
         |  FROM sh e JOIN sh t ON e.shingle = t.shingle
         |  WHERE e.doc_id % 7 = 0 AND t.doc_id % 7 != 0
         |  GROUP BY 1, 2)
         |SELECT train_doc, eval_doc,
         |  round(c * 1.0 / (st.n + se.n - c), 6) AS jaccard
         |FROM common
         |JOIN sizes st ON train_doc = st.doc_id
         |JOIN sizes se ON eval_doc = se.doc_id
         |WHERE c * 1.0 / (st.n + se.n - c) >= 0.5""".stripMargin

  /** ds_pack — sequence packing (concat-and-chunk): documents are laid
    * head-to-tail in doc_id order and cut into fixed `PackChunkTokens`
    * training sequences; each doc reports its token span and the chunk
    * range it lands in. Packing is PER SOURCE — the running-offset window
    * is partitioned by source, so shards pack in parallel (a single
    * global cumsum would serialize the corpus through one task; per-shard
    * packing is also what real loaders do, one stream per worker).
    */
  private val PackChunkTokens = 2048

  def pack(spark: SparkSession, sfDir: String): DataFrame = {
    val nTok = size(split(col("text"), "\\s+")).cast("long")
    val w = Window.partitionBy(col("source")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.documents(spark, sfDir)
      .select(col("source"), col("doc_id"), nTok.as("n_tokens"))
      .withColumn("start_tok", sum(col("n_tokens")).over(w) - col("n_tokens"))
      .select(col("source"), col("doc_id"), col("n_tokens"), col("start_tok"),
        floor(col("start_tok") / PackChunkTokens).cast("int").as("chunk_first"),
        floor((col("start_tok") + col("n_tokens") - 1) / PackChunkTokens)
          .cast("int").as("chunk_last"))
  }

  val packSql: String =
    raw"""SELECT source, doc_id, n_tokens, start_tok,
         |  CAST(floor(start_tok / 2048) AS INT) AS chunk_first,
         |  CAST(floor((start_tok + n_tokens - 1) / 2048) AS INT) AS chunk_last
         |FROM (
         |  SELECT source, doc_id,
         |    CAST(len(regexp_split_to_array(text, '\s+')) AS BIGINT) AS n_tokens,
         |    -- sum() over BIGINT yields HUGEINT in DuckDB; cast back so the
         |    -- dtype matches Spark's int64
         |    CAST(sum(CAST(len(regexp_split_to_array(text, '\s+')) AS BIGINT)) OVER (
         |      PARTITION BY source ORDER BY doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         |      - len(regexp_split_to_array(text, '\s+')) AS BIGINT) AS start_tok
         |  FROM documents) t""".stripMargin

  /** ds_mix — deterministic source-mixing: per-source keep percentages
    * applied via an integer Lehmer-style hash of doc_id, so the sample is
    * reproducible on any cluster, any partitioning, any engine (all
    * arithmetic stays < 2³², no float, no RNG state). Source weights:
    * src<k> keeps 100/50/20 % by k mod 3 — the up/down-weighting step of a
    * data-mixture recipe. Row-level output so the oracle can replay the
    * exact decision per document.
    */
  def sourceMix(spark: SparkSession, sfDir: String): DataFrame = {
    val srcNum = substring(col("source"), 4, 10).cast("int")
    val pct = when(srcNum % 3 === 0, 100).when(srcNum % 3 === 1, 50).otherwise(20)
    val bucket = (col("doc_id") % 65536) * 48271 % 65537 % 100
    Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("source"), col("lang"),
        bucket.cast("int").as("strat_bucket"), pct.as("keep_pct"))
      .filter(col("strat_bucket") < col("keep_pct"))
  }

  val sourceMixSql: String =
    """SELECT doc_id, source, lang,
      |  CAST((doc_id % 65536) * 48271 % 65537 % 100 AS INT) AS strat_bucket,
      |  CASE CAST(substr(source, 4) AS INT) % 3
      |    WHEN 0 THEN 100 WHEN 1 THEN 50 ELSE 20 END AS keep_pct
      |FROM documents
      |WHERE (doc_id % 65536) * 48271 % 65537 % 100 <
      |  CASE CAST(substr(source, 4) AS INT) % 3
      |    WHEN 0 THEN 100 WHEN 1 THEN 50 ELSE 20 END""".stripMargin

  /** ds_split — deterministic hash-based train/val/test assignment
    * (90/5/5): the split key is the first two hex chars of md5(doc_id),
    * compared lexicographically ('e6' = 230/256 ≈ 0.9, 'f3' = 243/256 ≈
    * 0.95). Hash-based (not random, not modulo-on-id) is the production
    * contract for corpus splits: membership is a pure function of the id —
    * stable under re-partitioning, engine changes, and incremental ingest
    * (new docs land in the same split forever) — and md5 hex is
    * bit-identical across Spark and DuckDB, so the oracle replays the
    * exact assignment. A narrow projection: the scan never reads `text`.
    */
  def split3Way(spark: SparkSession, sfDir: String): DataFrame = {
    val bucket = substring(md5(col("doc_id").cast("string")), 1, 2)
    Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("source"), bucket.as("bucket"))
      .withColumn("split",
        when(col("bucket") < "e6", "train")
          .when(col("bucket") < "f3", "val")
          .otherwise("test"))
  }

  val split3WaySql: String =
    """SELECT doc_id, source, substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) AS bucket,
      |  CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < 'e6' THEN 'train'
      |       WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < 'f3' THEN 'val'
      |       ELSE 'test' END AS split
      |FROM documents""".stripMargin

  /** ds_buckets — length-bucketed batch planning: documents are grouped
    * into fixed-width token-length buckets (the length-grouped batching a
    * training loader uses to avoid padding waste), and each bucket reports
    * its batch count at a fixed per-batch token budget. All arithmetic is
    * INTEGER (fixed-width buckets, ceil via (a+b-1)/b) — exact and
    * bit-identical in any engine, unlike a floor(log2(n)) bucket whose
    * ln-division can land either side of an exact power of two. One O(n)
    * hash aggregation on a small bounded key (≤ BucketCap+1 buckets).
    */
  private val BucketWidthToks = 16
  private val BucketCap = 31
  private val BatchTokenBudget = 16384

  def buckets(spark: SparkSession, sfDir: String): DataFrame = {
    val nTok = size(split(col("text"), "\\s+")).cast("long")
    // `div`, not `/`: Column./ is DOUBLE division (the bug class the
    // round-5 organic probe caught in its mosaic stride) — div keeps the
    // arithmetic integral end to end.
    Tables.documents(spark, sfDir)
      .select(nTok.as("n_tokens"))
      .select(expr(s"CAST(least(n_tokens div $BucketWidthToks, $BucketCap) AS INT)")
        .as("len_bucket"), col("n_tokens"))
      .groupBy(col("len_bucket"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("total_tokens"))
      .withColumn("n_batches",
        expr(s"(total_tokens + ${BatchTokenBudget - 1}) div $BatchTokenBudget"))
  }

  val bucketsSql: String =
    raw"""SELECT CAST(least(len(regexp_split_to_array(text, '\s+')) // 16, 31) AS INT)
         |    AS len_bucket,
         |  count(*) AS n_docs,
         |  CAST(sum(len(regexp_split_to_array(text, '\s+'))) AS BIGINT) AS total_tokens,
         |  CAST((sum(len(regexp_split_to_array(text, '\s+'))) + 16383) // 16384 AS BIGINT)
         |    AS n_batches
         |FROM documents GROUP BY 1""".stripMargin

  /** ds_curriculum — curriculum phase assignment: within each source,
    * documents are ranked by a cheap quality signal (alpha ratio — the
    * int/int division is bit-identical across engines, so the ordering
    * can't flake at double edges) and cut into 4 phases with ntile. The
    * window is PARTITIONED BY SOURCE — each shard orders independently
    * (what a per-domain curriculum wants) and no global sort exists in
    * the plan, so the operator scales with the largest source, not the
    * corpus.
    */
  def curriculum(spark: SparkSession, sfDir: String): DataFrame = {
    val alpha = length(regexp_replace(col("text"), "[^a-z]", "")).cast("double") /
      length(col("text")).cast("double")
    val w = Window.partitionBy(col("source"))
      .orderBy(col("score").desc, col("doc_id"))
    Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("source"), alpha.as("score"))
      .withColumn("phase", ntile(4).over(w).cast("int"))
      .select(col("doc_id"), col("source"),
        round(col("score"), 4).as("score"), col("phase"))
  }

  val curriculumSql: String =
    """WITH scored AS (
      |  SELECT doc_id, source,
      |    length(regexp_replace(text, '[^a-z]', '', 'g')) * 1.0 / length(text)
      |      AS score
      |  FROM documents)
      |SELECT doc_id, source, round(score, 4) AS score,
      |  CAST(ntile(4) OVER (PARTITION BY source ORDER BY score DESC, doc_id)
      |    AS INT) AS phase
      |FROM scored""".stripMargin

  /** ds_weights — source-mixture reweighting: each source's token share
    * vs the uniform target, and the sampling weight that would equalize
    * the mix (the knob a data-mixture recipe turns). Shape: one O(n)
    * aggregation down to |sources| rows, then a broadcast of the 1-row
    * total — nothing here grows with corpus bytes except the first scan.
    */
  def weights(spark: SparkSession, sfDir: String): DataFrame = {
    val nTok = size(split(col("text"), "\\s+")).cast("long")
    val bySrc = Tables.documents(spark, sfDir)
      .select(col("source"), nTok.as("n_tokens"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("tokens"))
    val tot = bySrc.agg(sum(col("tokens")).as("total_tokens"),
      count(lit(1)).as("n_sources"))
    bySrc.crossJoin(broadcast(tot))
      .select(col("source"), col("n_docs"), col("tokens"),
        round(col("tokens").cast("double") / col("total_tokens"), 6).as("share"),
        round(col("total_tokens").cast("double")
          / (col("n_sources") * col("tokens")), 6).as("weight"))
  }

  val weightsSql: String =
    raw"""WITH by_src AS (
         |  SELECT source, count(*) AS n_docs,
         |    CAST(sum(len(regexp_split_to_array(text, '\s+'))) AS BIGINT) AS tokens
         |  FROM documents GROUP BY 1),
         |tot AS (SELECT CAST(sum(tokens) AS BIGINT) AS total_tokens,
         |               count(*) AS n_sources FROM by_src)
         |SELECT source, n_docs, tokens,
         |  round(tokens * 1.0 / total_tokens, 6) AS share,
         |  round(total_tokens * 1.0 / (n_sources * tokens), 6) AS weight
         |FROM by_src CROSS JOIN tot""".stripMargin
}
