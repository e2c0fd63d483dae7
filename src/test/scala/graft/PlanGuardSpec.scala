package graft

/** Whole-inventory plan guardrail: every gate query's physical plan is
  * checked for the two shapes that do not survive 100 TB — cartesian
  * products and broadcast nested-loop joins. Plans are built (analysis +
  * physical planning only), not executed, so this sweeps all queries
  * cheaply; any future query that regresses into a quadratic join shape
  * fails here before it ever reaches the driver gate. (Exception: the
  * iterative gates — s08/s09/s10/s12 PageRank, star components,
  * k-means, label propagation, plus s15 k-core peeling and the
  * kmeans-composed p17 — run their driver-side loop actions at
  * plan-BUILD time; at sf0.001 that costs a few small jobs each, and
  * their final plans are still checked like everything else.)
  */
class PlanGuardSpec extends SparkSpec {

  test("no gate query plans CartesianProduct or BroadcastNestedLoopJoin") {
    val dir = "/root/testdata/sf0.001"
    val skip = Set(
      "q07_cross_join", // intentionally a cartesian (dims-only, documented)
      "s01_ann_topk", // brute-force ANN IS corpus × queries by definition:
                      // BroadcastNestedLoopJoin with the small query set
                      // broadcast is the intended exact-baseline plan
                      // (the scale paths are s02 LSH / s03 IVF, guarded)
      "t08_bm25_rank", // the corpus-stats side (COUNT + SUM over doc
                       // lengths) is ONE aggregated broadcast row under a
                       // cross join — a per-row constant append, exactly
                       // how Spark executes scalar subqueries; linear at
                       // any corpus size
      "t42_hybrid_rrf", // the lexical ranker IS Ranking.bm25 — it
                        // inherits t08's benign 1-row corpus-stats
                        // shape; the fusion itself is a ≤100-row union
                        // + aggregate over TakeOrderedAndProject tops
      "t43_collocations", // the unigram/bigram TOTALS ride as TWO
                          // 1-row broadcast rows under cross joins —
                          // the t08 scalar-subquery shape; the count
                          // joins are narrow equi-joins on words
      "s16_hits", // each L∞ normalize broadcasts ONE global-max row
                  // under a cross join — the same benign scalar-subquery
                  // shape as t08; the propagation joins are narrow
                  // equi-joins checked by the s08 family
      "p20_perplexity_buckets", // the two quantile thresholds ride ONE
                                // broadcast row under a cross join — the
                                // t08 scalar-subquery shape; the scoring
                                // joins are t33's, guarded there
      "s06_filtered_ann", // bruteForceTopK over the FILTERED corpus —
                          // same intended exact-baseline plan as s01
                          // (scale path: the same predicate composes with
                          // the LSH/IVF probed candidate joins)
      "s07_int8_ann", // exact quantized baseline: scores query × corpus
                      // by definition, like s01 — the win is 4× narrower
                      // rows in that join, not a smaller candidate set
      "s17_jl_project", // exact top-k in the PROJECTED space: query ×
                        // corpus by definition, like s01/s07 — the win
                        // is 16 BIGINTs per row instead of 64 floats
                        // (and integer distances), not a smaller
                        // candidate set; the pruned path composes via
                        // s02/s03 over projected vectors
      "f01_sql_ann", // the SQL-surface demo of the same exact baseline —
                     // query × corpus by definition, like s01
      "e03_streaming_tumbling", // executes a streaming query when built
      "e08_streaming_dedup",
      "e09_stream_interval_join", // executes a streaming query when built
      "e10_stream_static_join",   // executes a streaming query when built
      "e11_streaming_cdc",        // executes a streaming query when built
      "e12_streaming_sessions",   // executes a streaming query when built
      "e13_stream_outer_join",    // executes a streaming query when built
      "e14_stream_kmv",           // executes a streaming query when built
      "e15_streaming_bloom_screen", // executes a streaming query when built;
                                    // its probe join shape is t23's, guarded
                                    // there and in the SketchSpec plan pin
      "e16_stream_quantiles",       // executes a streaming query when built;
                                    // its batch shape is t25's, guarded there
      "e17_stream_drift",           // executes a streaming query when built;
                                    // its distance shape is t28's, guarded there
      "e18_stream_exact_screen",    // executes a streaming query when built;
                                    // its probe shape is d08/d12's, guarded
                                    // there
      "e19_stream_lm_screen",  // executes an index write + two streaming
                               // queries when built; its scoring shape is
                               // t33's, guarded there
      "e20_stream_dsir_screen", // executes an index write + two streaming
                                // queries when built; its scoring shape is
                                // t36's, guarded there
      "e21_stream_media_screen") // executes an index write + two streaming
                                 // queries when built; its probe shape is
                                 // mm06's, guarded there
    // e12/e13 coverage note: their stateful operators (session_window,
    // stream-stream interval join) only exist in streaming plans, which
    // this guard cannot build without executing micro-batches; their
    // batch-side shapes (window agg, range join) are covered by
    // e05/e06/e07, and the streaming gates themselves run in Verify.
    val offenders = SparkEntry.gates.sortBy(_.name)
      .filterNot(g => skip(g.name))
      .flatMap { g =>
        val plan = g.run(spark, dir).queryExecution.executedPlan.toString
        val bad = Seq("CartesianProduct", "BroadcastNestedLoopJoin").filter(plan.contains)
        if (bad.isEmpty) None else Some(s"${g.name}: ${bad.mkString(", ")}")
      }
    assert(offenders.isEmpty,
      s"quadratic join shapes found:\n${offenders.mkString("\n")}")
  }
}
