package graft

/** Physical-plan regression net: the properties that make these queries
  * survive a 100× scale-up, asserted so a refactor can't silently
  * reintroduce a shuffle join, a global sort, or a full-column scan.
  */
class PlanSpec extends SparkSuite {

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, sf).queryExecution.executedPlan.toString

  /** Literal, position-independent substring count. `String.split` is
    * wrong for this job twice over: it treats the needle as a regex, and
    * it drops trailing empty strings — a plan ENDING with the needle
    * would undercount by one.
    */
  private def occ(hay: String, needle: String): Int =
    java.util.regex.Pattern.quote(needle).r.findAllMatchIn(hay).size

  test("q1_agg: filter pushed to parquet, partial aggregation present") {
    val p = plan("q1_agg")
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate"),
      s"filter not pushed:\n$p")
    assert(p.contains("partial_sum"), "map-side partial aggregation missing")
  }

  test("q2_join small-SF: statistics still broadcast every small dimension") {
    // With no hints on orders/customer, the stats-based planner must still
    // choose broadcast while those tables sit under the threshold — the
    // scale-safe query keeps the optimal small-scale plan.
    val p = plan("q2_join")
    assert(occ(p, "BroadcastHashJoin") == 4, s"expected 4 BHJs:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("q2_join at scale: only constant-size dims are hinted broadcast") {
    // Simulate 100×: disable auto-broadcast so every unhinted side behaves
    // like a table above the threshold. Only region (5 rows) and nation
    // (25 rows) carry hints — orders/customer grow linearly and MUST fall
    // back to a shuffled join, never a forced broadcast (OOM at scale).
    val saved = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val p = plan("q2_join")
      assert(occ(p, "BroadcastHashJoin") == 2,
        s"expected exactly 2 hinted BHJs (nation, region):\n$p")
      assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin"),
        s"fact-side joins must shuffle when tables exceed the threshold:\n$p")
      assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", saved)
  }

  test("q3_topk: TakeOrderedAndProject, not a global sort") {
    val p = plan("q3_topk")
    assert(p.contains("TakeOrderedAndProject"), s"top-k not heap-based:\n$p")
  }

  test("q15_range_join: equi-key keeps it a sort-merge join, never nested-loop") {
    val p = plan("q15_range_join")
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin")
      || p.contains("BroadcastHashJoin"), s"no hash/merge join:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"range join degenerated:\n$p")
  }

  test("q9_scalar: scan reads only referenced columns") {
    val p = plan("q9_scalar")
    // 4 of orders' 6 columns are referenced; o_custkey must be pruned.
    assert(p.contains("ReadSchema"), p)
    assert(!p.contains("o_custkey"), s"column pruning failed:\n$p")
  }

  test("wc_wordcount: two-phase aggregate (combiner the reference lacks)") {
    val p = plan("wc_wordcount")
    assert(p.contains("partial_count") || p.contains("partial_"),
      s"no partial aggregation:\n$p")
  }

  test("wc_inverted_index: one shuffle, the per-document distinct is row-local") {
    // The reference de-duplicates a document's words inside its map
    // (mrapps/indexer.go:20-31); a distinct() over (doc_id, word) pairs
    // would add a second Exchange.
    val plans = ExecutedPlans.of(spark)(SparkEntry.queries("wc_inverted_index")(spark, sf).collect())
    val exchanges = ExecutedPlans.exchanges(plans)
    assert(exchanges == 1, s"expected one shuffle, got $exchanges:\n${plans.mkString("\n")}")
  }

  test("pipeline_clean_corpus: no cartesian/nested-loop anywhere in the chain") {
    val p = plan("pipeline_clean_corpus")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"composite pipeline degenerated:\n$p")
  }

  test("pipeline_clean_corpus: documents scanned exactly once (stages 1+2 shared)") {
    // Both stage-3 branches must feed off the ONE checkpointed survivor
    // table: the final plan reads no parquet at all (every leaf is a
    // checkpoint RDD or a literal), and the stage-1+2 subtree that built
    // the checkpoint scans `documents` exactly once with its exact-dedup
    // window intact. Together these pin "one corpus scan per run" — the
    // round-5 plan ran the quality gate + fp window twice.
    val p = plan("pipeline_clean_corpus")
    assert(!p.contains("FileScan") && !p.contains("Scan parquet"),
      s"pipeline re-reads parquet past the survivor checkpoint:\n$p")
    val kept = graft.queries.Pipeline.exactKept(spark, sf)
      .queryExecution.executedPlan.toString
    assert(occ(kept, "Scan parquet") == 1,
      s"stage 1+2 must scan documents exactly once:\n$kept")
    assert(kept.contains("Window"), "exact-dedup window stage missing")
  }

  test("ev_funnel: one events scan, one user_id exchange, chained windows") {
    val p = plan("ev_funnel")
    assert(occ(p, "Scan parquet") == 1,
      s"funnel must read events exactly once (round-5 form read it 3×):\n$p")
    // The three stage minima stack as Window nodes over ONE hashpartitioning
    // exchange; only the final 1-row collapse adds its tiny single-partition
    // exchange.
    assert(occ(p, "hashpartitioning(user_id") == 1,
      s"expected exactly one user_id exchange:\n$p")
    assert(p.contains("Window"), s"funnel stages not window-chained:\n$p")
  }

  test("ann_topk: query side broadcast, no shuffle of the corpus") {
    val p = plan("ann_topk")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      s"query set not broadcast:\n$p")
  }

  test("ANN family: query side is a bounded, scan-pushed slice of the corpus") {
    // The probe-side broadcasts are only scale-safe because |Q| is bounded
    // by contract (Similarity.MaxQueries). The bound is a range predicate
    // on vec_id — assert it reaches the parquet scan as a pushed filter,
    // so the query side cannot silently revert to an N/50-sized set.
    Seq("ann_topk", "ann_ivf", "ann_lsh").foreach { q =>
      val p = plan(q)
      assert(p.contains("LessThan(vec_id"),
        s"$q bounded-|Q| predicate not pushed to the scan:\n$p")
    }
  }

  test("ann_filtered: metadata predicate pushed to the parquet scan") {
    // The filtered path's whole point: the predicate prunes at the SCAN,
    // before assignment and the probe join — never as a post-filter on
    // search results. Both strata: the rare stratum's label conjunct
    // pushes too (its id-residue conjunct is not a source filter, so it
    // runs right above the pruned scan).
    Seq("ann_filtered", "ann_filtered_rare").foreach { q =>
      val p = plan(q)
      assert(p.contains("EqualTo(label,3)"),
        s"$q: label predicate not pushed to the scan:\n$p")
      assert(!p.contains("CartesianProduct"), p)
    }
  }

  test("dd_embed_bucketed: candidate generation is hash joins, never a cartesian") {
    Seq("dd_embed_bucketed", "dd_embed_hi").foreach { q =>
      val p = plan(q)
      assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
        s"$q degenerated to all-pairs:\n$p")
    }
  }

  test("embed family: the candidate stream is never sorted — sketch attaches broadcast, exact tail hash-builds") {
    // Round-13 measurement: AQE left every cascade/verify attach join
    // SortMergeJoin (the checkpointed sketch leaf reports no stats), so
    // the 56M-row candidate stream at the 100× staging was exchanged AND
    // sorted twice before the cut could run. The contract now: below
    // CascadeSketchBroadcastMax the sketch side broadcasts (zero
    // exchanges of the stream), the exact tail hash-builds the embedding
    // projection, and NOTHING in these plans sorts. (The fallback regime
    // above the ceiling is pinned in DedupSpec on an injected ceiling.)
    Seq("dd_embed_hi", "dd_embed_hi768", "dd_embed_bucketed", "dd_delta_embed")
      .foreach { q =>
        val p = plan(q)
        assert(!p.contains("SortMergeJoin"),
          s"$q: an attach join degenerated to sort-merge:\n$p")
      }
    val hi = plan("dd_embed_hi768")
    assert(occ(hi, "BroadcastHashJoin") >= 2,
      s"dd_embed_hi768: sketch attaches are not broadcast under the ceiling:\n$hi")
  }

  test("minhash family: no pair-stream sort-merge join survives to the executed plan") {
    // No join in these entries carries a plan-time regime hint: AQE
    // re-plans each one from the MEASURED stage sizes (the rule lives
    // at GraftSession; JoinRegimeSpec pins its three regimes). So the
    // pin is on the EXECUTED (final adaptive) plans: at test scale every
    // pair and per-doc relation is tiny, and a surviving SortMergeJoin
    // means the runtime conversion regressed. Every plan the entry
    // executes is read, checkpoint jobs included — dd_delta_chain's
    // result, for one, is a checkpoint whose own plan joins nothing.
    // (mm_phash is the documented exception: its corpus-linear
    // int-keyed self-join is left to the planner.)
    Seq("dd_minhash", "dd_ngram_jaccard", "dd_editdist", "dd_delta",
      "dd_decontaminate", "dd_decontaminate_fuzzy", "pipeline_clean_corpus",
      "dd_keep_best", "dd_clusters", "dd_substring", "dd_delta_chain",
      "pipeline_v2", "dd_minhash_staged")
      .foreach { q =>
        val adaptive = ExecutedPlans.of(spark)(SparkEntry.queries(q)(spark, sf).collect())
          .filter(_.contains("AdaptiveSparkPlan"))
        assert(adaptive.nonEmpty, s"$q: no adaptive plan was executed")
        adaptive.foreach { full =>
          assert(full.contains("isFinalPlan=true"),
            s"$q: expected the final adaptive plan after execution:\n$full")
          val p = ExecutedPlans.finalSection(full)
          assert(!p.contains("SortMergeJoin"),
            s"$q: a join stayed sort-merge at runtime:\n$p")
        }
      }
  }

  test("dd_lines: materialized hot-set anti-join, one corpus scan, no window") {
    // The hot set arrives CHECKPOINTED (the boilerplate index product —
    // its partial-agg build plan is pinned separately in DedupSpec), so
    // the consuming query must show exactly the deployment shape: one
    // documents scan feeding the explode, an anti-join against an
    // in-memory relation, and no second parquet scan re-deriving the df
    // aggregation inline.
    val p = plan("dd_lines")
    assert(p.contains("LeftAnti"), s"boilerplate cap must be an anti-join:\n$p")
    assert(p.contains("Scan ExistingRDD"),
      s"hot set must join from the materialized index product:\n$p")
    assert(occ(p, "Scan parquet") == 2,
      s"expected exactly 2 documents scans (line explode + n_lines join-back):\n$p")
    assert(!p.contains("Window"), s"dd_lines gained a window it doesn't need:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("dd_delta: every pair-producing join probes from the filtered batch side") {
    // The no-old×old property is structural: the batch predicate
    // (doc_id % 10 = 3) must appear as a FILTER feeding both the
    // candidate bucket join and the shingle verification join — if a
    // refactor moved it to a post-join filter, old×old rows would
    // materialize first and the operator silently degrades to the
    // closed-corpus cost. The residue literal appears in the filter
    // conditions; assert it is present and that no join degenerated.
    val p = plan("dd_delta")
    assert(occ(p, "% 10") >= 2,
      s"batch predicate must gate both the candidate and verify joins:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"dd_delta degenerated:\n$p")
  }

  test("ds_split: text column pruned from the scan") {
    // Split assignment is a pure doc_id hash — reading the (dominant)
    // text column would multiply scan bytes for nothing.
    val p = plan("ds_split")
    assert(p.contains("ReadSchema"), p)
    assert(!p.contains("text"), s"ds_split reads the text column:\n$p")
  }

  test("ta_ngram_stats: rank window runs over a pre-aggregated input") {
    // The window is only scale-safe because aggregation has already
    // collapsed token instances to distinct (lang, bigram) rows — assert
    // the partial aggregate sits below the window.
    val p = plan("ta_ngram_stats")
    assert(p.contains("partial_count"), s"no map-side partial agg:\n$p")
    assert(p.contains("Window"), p)
  }

  test("q26_grouping_sets: one Expand, one scan — never a union of aggregates") {
    val p = plan("q26_grouping_sets")
    assert(occ(p, "Expand") >= 1, s"no Expand operator:\n$p")
    assert(occ(p, "Scan parquet") == 1,
      s"grouping sets must share a single fact scan:\n$p")
  }

  test("ta_gopher: pure projection, no exchange anywhere") {
    val p = plan("ta_gopher")
    assert(!p.contains("Exchange"), s"gopher rules gained a shuffle:\n$p")
  }

  test("ta_zipf: partial aggregation feeds the rank window, no cartesian") {
    // The window must rank the PRE-AGGREGATED vocabulary (bounded by
    // distinct tokens), never raw token rows — the ta_charngrams shape.
    val p = plan("ta_zipf")
    assert(p.contains("partial_count") || p.contains("partial_"),
      s"vocab count not partially aggregated before the shuffle:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"zipf degenerated:\n$p")
  }

  test("ev_retention: aggregation-join shape, no windows") {
    // ev_funnel left this gate in round 6: its sequential stage logic is
    // now three chained per-user window minima over ONE events scan (see
    // the ev_funnel gate above) — the window is the price of not reading
    // events three times, and retention (no sequential dependency) stays
    // window-free.
    val p = plan("ev_retention")
    assert(!p.contains("Window"), s"ev_retention uses a window it doesn't need:\n$p")
    assert(!p.contains("CartesianProduct"), s"ev_retention degenerated:\n$p")
  }

  test("ds_mix: text column pruned from the scan") {
    // The sampler touches only ids/source/lang — reading the (dominant)
    // text column would multiply scan bytes for nothing.
    val p = plan("ds_mix")
    assert(p.contains("ReadSchema"), p)
    assert(!p.contains("text"), s"ds_mix reads the text column:\n$p")
  }

  test("dd_decontaminate: df-cap is a broadcast anti-join, join side stays hashed") {
    val p = plan("dd_decontaminate")
    assert(p.contains("LeftAnti"), s"hot-gram cap missing:\n$p")
    assert(!p.contains("CartesianProduct"), s"decontamination degenerated:\n$p")
  }

  test("dd_decontaminate_fuzzy: bucket join is hashed, pairs bounded, no window") {
    val p = plan("dd_decontaminate_fuzzy")
    // The bipartite candidate join must be a hash join on (band, bh) —
    // a cartesian here is the eval×train blowup the funnel exists to
    // avoid; verification must stay semi-join-restricted.
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"fuzzy decon candidate generation degenerated:\n$p")
    assert(p.contains("LeftSemi"), s"candidate semi-join restriction missing:\n$p")
    assert(!p.contains("Window"), s"no window should appear:\n$p")
    // The df-cap anti-join sits on the shared cappedShingles subtree
    // BEHIND the localCheckpoint's RDD scan here; its plan shape is
    // asserted via the other MinHash consumers (dd_decontaminate above,
    // dd_winnow below) that run it un-checkpointed.
  }

  test("ann_ivf_pq: codes ride a projection; shortlist is a bounded aggregate, no window") {
    val p = plan("ann_ivf_pq")
    // Assignment + encoding are per-row projections (pqencode inside the
    // scan-side project), candidate scan is a broadcast hash join on the
    // cell key, the ADC shortlist is a TopKAgg objectHashAggregate, and
    // the refine fetch joins the two-longs-per-row shortlist — never a
    // window rank, never a cartesian.
    assert(p.contains("pqencode"), s"PQ encoding not in the scan projection:\n$p")
    assert(p.contains("BroadcastHashJoin"), s"cell probe join not broadcast-hashed:\n$p")
    assert(!p.contains("Window"), s"shortlist/rank must be bounded aggregates:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"pq scan degenerated:\n$p")
  }

  test("catch-all: no query degenerates to a cartesian or nested-loop join") {
    // Every entry in the driver surface, present and future: a
    // CartesianProduct or BroadcastNestedLoopJoin anywhere in the plan is
    // O(n²) data movement at corpus scale. Exceptions are enumerated WITH
    // their reasons — anything new that degenerates fails here before the
    // driver ever sees it.
    val allowed: Map[String, String] = Map(
      // deliberate quadratic ORACLE form; real callers go through
      // dd_embed_auto, which dispatches to the bucketed path past 30k rows
      "dd_embed_cosine" -> "all-pairs oracle form",
      // below the 30k crossover the dispatcher CHOOSES the all-pairs
      // branch — that's the contract; the bucketed branch it takes at
      // scale is asserted cartesian-free separately
      "dd_embed_auto" -> "small-corpus branch of the cost dispatch",
      // the uncorrelated scalar-subquery average joins as a 1-row
      // broadcast — constant size at any corpus scale
      "q12_subquery" -> "1-row scalar subquery cross",
      // bounded-|Q| probe side (<=1024 by pushed-predicate contract)
      // against per-query candidate lists — the BNLJ input is O(|Q|)
      "ann_topk" -> "bounded query-side broadcast",
      // same bounded-|Q| contract as ann_topk; exact radius form is the
      // LSH-recall measurement instrument, deliberately no-miss
      "ann_range" -> "bounded query-side broadcast",
      // below the cost crossover the dispatch serves the exact stratum
      // brute force — ann_topk's bounded-|Q| BNLJ against the PUSHED
      // predicate stratum (sel·N rows, fewer than the index would touch)
      "ann_filtered_auto" -> "bounded query-side broadcast on the stratum",
      // the range stratum sits below the crossover at THIS corpus, so
      // the dispatch serves the same bounded-|Q| exact BNLJ; at grown
      // corpora it flips to the IVF plan (hash joins) — the flip is
      // hash-checked by the dispatch-following oracle at sf0.1
      "ann_filtered_range" -> "bounded query-side broadcast on the stratum",
      // per-source aggregate crossed with the 1-row corpus total —
      // both sides constant-or-|sources| sized at any corpus scale
      "ds_weights" -> "1-row corpus-total cross",
      // IVF assignment is |corpus| x k dot products by definition; the
      // BNLJ broadcasts the CONSTANT-size centroid table, never the corpus
      "ann_ivf" -> "constant centroid-table broadcast",
      "ann_ivf_kmeans" -> "constant centroid-table broadcast",
      // crosses of 1-row global aggregates (stage counts / corpus totals)
      // — constant broadcast at any scale
      "ev_funnel" -> "1-row stage-count crosses",
      "ta_perplexity" -> "1-row corpus-total cross",
      "ta_tfidf" -> "1-row n_docs cross"
    )
    val bad = SparkEntry.queries.keys.toSeq.sorted.flatMap { name =>
      if (allowed.contains(name)) None
      else {
        val p = plan(name)
        if (p.contains("CartesianProduct") || p.contains("BroadcastNestedLoopJoin"))
          Some(name)
        else None
      }
    }
    assert(bad.isEmpty, s"queries degenerated to cartesian/nested-loop: $bad")
  }

  test("dd_winnow: df-capped anti-join, no cartesian, and no window anywhere") {
    // Fingerprint generation runs INSIDE the scan row (WinnowFingerprints
    // codegen expression) — the old posexplode+Window form shuffled one row
    // per character position. The pair join must stay the LSH funnel:
    // banded signatures computed in-row, candidates from a hash bucket
    // join, one codegen merge-intersect per candidate — and the df cap's
    // broadcast anti-join gates the doc-set table it consumes (asserted on
    // winnowDocSets, since winnowPairs' checkpoint hides that subtree
    // behind a Scan ExistingRDD).
    val p = plan("dd_winnow")
    assert(!p.contains("Window"), s"dd_winnow reintroduced the per-char window:\n$p")
    assert(p.contains("bandedminhash"), s"LSH candidate funnel missing:\n$p")
    assert(p.contains("sortedlongintersect"), s"codegen merge-intersect verify missing:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"winnow pair join degenerated:\n$p")
    val sets = graft.queries.Dedup.winnowDocSets(spark, sf)
      .queryExecution.executedPlan.toString
    assert(sets.contains("LeftAnti"), s"hot-fingerprint df cap missing:\n$sets")
    assert(!sets.contains("Window"), s"winnowDocSets reintroduced the per-char window:\n$sets")
  }

  test("ta_winnow: pure per-row projection — no shuffle at all") {
    // The per-doc summary is a projection over the expression's output
    // array; any Exchange or Window here means the per-char shuffle is back.
    val p = plan("ta_winnow")
    assert(!p.contains("Window"), s"ta_winnow reintroduced the per-char window:\n$p")
    assert(!p.contains("Exchange"), s"ta_winnow shuffles a per-row computation:\n$p")
  }

  test("ev_rolling: RANGE frame partitioned by user_id, no global sort") {
    val p = plan("ev_rolling")
    assert(p.contains("RangeFrame"), s"rolling frame not RANGE-based:\n$p")
    assert(p.contains("hashpartitioning(user_id"),
      s"window not partitioned by user_id:\n$p")
    assert(!p.contains("rangepartitioning"), s"global sort present:\n$p")
  }

  test("ev_markov: lead window on user_id; normalization joins a constant table") {
    val p = plan("ev_markov")
    assert(p.contains("lead(src"), s"transition pairing not a lead window:\n$p")
    assert(p.contains("hashpartitioning(user_id"),
      s"window not partitioned by user_id:\n$p")
    // The (src) totals side is O(types) rows — statistics must broadcast it
    // rather than shuffling the (constant-size) counts table a second time.
    assert(p.contains("BroadcastHashJoin"),
      s"constant-size normalization join not broadcast:\n$p")
  }

  test("ANN family: ranking is bounded aggregation, never a window rank") {
    // A row_number window would shuffle+sort EVERY candidate row per
    // query/vector; TopKAgg keeps shuffles at k rows per group. Assert the
    // window operator never reappears in any ANN plan (round-1 scale bug).
    Seq("ann_topk", "ann_ivf", "ann_ivf_kmeans", "ann_lsh").foreach { q =>
      val p = plan(q)
      assert(!p.contains("Window"), s"$q reintroduced a window rank:\n$p")
      assert(p.contains("ObjectHashAggregate"),
        s"$q top-k not running as an object-hash aggregate:\n$p")
    }
  }

  test("q27_salted_agg: salt spreads phase 1, phase 2 combines per key") {
    val p = plan("q27_salted_agg")
    // phase 1 must group by (key, salt) — the salt column in a hash
    // aggregate's keys is the whole point of the operator
    assert(p.contains("salt"), s"salted phase missing:\n$p")
    // both phases are hash aggregates with map-side partials
    assert(occ(p, "HashAggregate") >= 4,
      s"expected two 2-phase hash aggregates:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("Sort "),
      s"salted agg must stay pure hash shapes:\n$p")
  }

  test("ev_paths: per-user window, then TakeOrdered — never a global sort") {
    val p = plan("ev_paths")
    assert(p.contains("TakeOrderedAndProject"), s"top-25 not heap-based:\n$p")
    assert(p.contains("hashpartitioning(user_id"),
      s"path window not partitioned by user_id:\n$p")
  }

  test("ev_histogram / ds_buckets: bounded-key aggregates with partials") {
    Seq("ev_histogram", "ds_buckets").foreach { q =>
      val p = plan(q)
      assert(p.contains("partial_count") || p.contains("partial_"),
        s"$q missing map-side partial aggregation:\n$p")
      assert(!p.contains("Window") && !p.contains("Sort "),
        s"$q should be a pure hash aggregate:\n$p")
    }
  }

  test("ds_curriculum: window partitioned by source, no global sort") {
    val p = plan("ds_curriculum")
    assert(p.contains("hashpartitioning(source"),
      s"curriculum window not partitioned by source:\n$p")
    assert(!p.contains("rangepartitioning"),
      s"global sort crept into curriculum assignment:\n$p")
  }

  test("ta_readability: pure per-row projection — no shuffle at all") {
    val p = plan("ta_readability")
    assert(!p.contains("Exchange"), s"readability should not shuffle:\n$p")
  }

  test("ta_entropy: in-row entropy expression — no explode, no shuffle") {
    val p = plan("ta_entropy")
    assert(!p.contains("Exchange"), s"entropy should not shuffle:\n$p")
    assert(!p.contains("Generate"), s"entropy must not explode chars:\n$p")
  }

  test("dd_substring: codegen window generation with the df-cap anti-join") {
    // The 133 s regression shape: md5 inside a transform() lambda runs on
    // the interpreted HOF path. The plan must carry md5 as a top-level
    // projection over an exploded position sequence — no lambda anywhere.
    val p = plan("dd_substring")
    assert(!p.toLowerCase.contains("lambdafunction"),
      s"window hashing fell back to an interpreted higher-order function:\n$p")
    assert(p.contains("LeftAnti"), s"hot-window df cap missing:\n$p")
    assert(!p.contains("CartesianProduct"), s"pair join degenerated:\n$p")
  }

  test("ann_ivf_append: the append step is scan -> assign -> write, no join, no aggregate") {
    // The lifecycle's O(batch·k) claim lives in the PLAN: one append step
    // filters the batch stratum and assigns it under the driver-resident
    // frozen quantizer (NearestCells projection). Any join or aggregate
    // here would mean the step re-derives something from the accumulated
    // corpus and its cost would grow with index size.
    val emb = Tables.embeddings(spark, sf)
    withTempDir("graft_ivf_append_plan") { dir =>
      graft.queries.Similarity.seedIvfIndex(spark, emb,
        graft.queries.Similarity.ivfAppendIsOld _, dir.toString)
      val p = graft.queries.Similarity.ivfAppendAssignments(spark, emb,
        graft.queries.Similarity.ivfAppendIsB1 _, dir.toString)
        .queryExecution.executedPlan.toString
      assert(!p.contains("Join"), s"append step joins the corpus:\n$p")
      assert(!p.toLowerCase.contains("aggregate"),
        s"append step aggregates over the corpus:\n$p")
      assert(!p.contains("Exchange"), s"append step shuffles:\n$p")
    }
  }
}
