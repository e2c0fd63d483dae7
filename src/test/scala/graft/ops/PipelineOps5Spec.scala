package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Specs for the round-4 continuation additions: Gopher quality rules,
  * priority (weighted reservoir) sampling, maximal duplicated-span
  * merging. */
class PipelineOps5Spec extends SparkSpec {

  import spark.implicits._

  test("tokenBudgetPlan: saturation re-flows unmet share; exact integer quotas") {
    // supplies: a=100, b=1000, c=1000; weights 1:1:1; budget 1500.
    // wave 1: fair quota 500 each → a saturates at 100; wave 2: rem
    // 1400 over b,c → 700 each (no further saturation)
    val stats = Seq(("a", 100L), ("b", 1000L), ("c", 1000L)).toDF("domain", "tokens")
    val plan = Sampling.tokenBudgetPlan(stats,
        Map("a" -> 1L, "b" -> 1L, "c" -> 1L), budget = 1500L)
      .collect().map(r => r.getString(0) -> (r.getLong(2), r.getLong(3))).toMap
    assert(plan("a") == ((100L, 1000000000L)))
    assert(plan("b") == ((700L, 700000000L)))
    assert(plan("c") == ((700L, 700000000L)))
  }

  test("tokenBudgetPlan: budget over supply saturates everything; zero weight gets zero") {
    val stats = Seq(("a", 10L), ("b", 20L), ("z", 50L)).toDF("domain", "tokens")
    val all = Sampling.tokenBudgetPlan(stats,
        Map("a" -> 5L, "b" -> 1L, "z" -> 0L), budget = 1000L)
      .collect().map(r => r.getString(0) -> r.getLong(2)).toMap
    assert(all("a") == 10L && all("b") == 20L)
    assert(all("z") == 0L, "zero-weight domain draws nothing")
  }

  private val fluent50 = // 55 words, mean word length 3.89
    "the quick brown fox jumps over the lazy dog and then runs back home " +
      "to find that all of the food it wanted to have with dinner was gone " +
      "so it went out again to look for more food in the nearby woods " +
      "later that evening the tired animal slept deeply beside the warm fire"

  test("gopherQuality: each rule fires on its designed violation") {
    val docs = Seq(
      (0L, fluent50),                                // passes everything
      (1L, "short text"),                            // words_ok fails
      (2L, ("a " * 60).trim),                        // word_len_ok low (mean 1)
      (3L, Seq.fill(60)("extraordinarily").mkString(" ")), // word_len_ok high
      (4L, fluent50 + " " + ("# " * 10).trim),       // symbol_ok fails (10/60 > 0.1)
      (5L, fluent50.split(" ").map("- " + _).mkString("\n")), // bullet_ok fails
      (6L, fluent50.split(" ").map(_ + "...").mkString("\n")), // ellipsis (+symbol) fail
      (7L, fluent50.split(" ").map(_ => "123").mkString(" ")), // alpha + stop fail
      (8L, Seq.fill(50)("zork").mkString(" "))       // stop_ok fails (0 stopwords)
    ).toDF("doc_id", "text")
    val out = TextAnalysis.gopherQuality(docs).collect()
      .map(r => r.getAs[Long]("doc_id") -> r).toMap
    def flag(id: Long, f: String) = out(id).getAs[Boolean](f)
    assert(flag(0L, "gopher_pass"))
    assert(!flag(1L, "words_ok") && !flag(1L, "gopher_pass"))
    assert(!flag(2L, "word_len_ok"))
    assert(!flag(3L, "word_len_ok"))
    assert(!flag(4L, "symbol_ok") && flag(4L, "words_ok"))
    assert(!flag(5L, "bullet_ok"))
    assert(!flag(6L, "ellipsis_ok"))
    assert(!flag(7L, "alpha_ok") && !flag(7L, "stop_ok"))
    assert(!flag(8L, "stop_ok") && flag(8L, "alpha_ok"))
    assert(out(0L).getAs[Long]("n_words") == 55L)
    assert(out(0L).getAs[Long]("stop_hits") >= 2L)
  }

  test("gopherQuality: scaled-integer rule boundaries are exact") {
    // 10 words, 1 symbol: 1 < 0.1*10 is FALSE (strict) -> symbol_ok false;
    // with maxSymbolToWord raised the same doc passes
    val d = Seq((0L, "w w w w w w w w w #")).toDF("doc_id", "text")
    val strict = TextAnalysis.gopherQuality(d, minWords = 1).collect().head
    assert(!strict.getAs[Boolean]("symbol_ok"))
    val loose = TextAnalysis.gopherQuality(d, minWords = 1,
      maxSymbolToWord = 0.11).collect().head
    assert(loose.getAs[Boolean]("symbol_ok"))
    // empty text: no words, no lines -> ratio guards (greatest 1) hold,
    // words_ok fails, nothing crashes
    val empty = TextAnalysis.gopherQuality(
      Seq((0L, "")).toDF("doc_id", "text")).collect().head
    assert(!empty.getAs[Boolean]("words_ok"))
    assert(empty.getAs[Boolean]("symbol_ok"))
  }

  test("tableProfile: null counts, exact/estimator cardinality arms, byte min/max, mode ties") {
    val df = Seq(
      (1L, "b", "x"), (2L, "a", "x"), (3L, "a", null),
      (4L, "c", "y"), (5L, "b", "y"))
      .toDF("id", "cat", "opt")
    val p = Profile.tableProfile(df, Seq("id", "cat", "opt"))
      .collect().map(r => r.getString(0) -> r).toMap
    // cat: no nulls, 3 distinct (exact arm), byte min/max, mode tie
    // a(2)/b(2) resolves to the smallest value
    val cat = p("cat")
    assert(cat.getLong(1) == 5 && cat.getLong(2) == 0 && cat.getLong(3) == 3)
    assert(cat.getString(4) == "a" && cat.getString(5) == "c")
    assert(cat.getDouble(6) == 1.0)
    assert(cat.getString(7) == "a" && cat.getLong(8) == 2)
    // opt: one null excluded everywhere but n_null; x(2)/y(2) tie -> x
    val opt = p("opt")
    assert(opt.getLong(2) == 1 && opt.getLong(3) == 2 &&
      opt.getString(7) == "x" && opt.getLong(8) == 2)
    // id: all-distinct -> every count 1, mode = smallest string value
    val id = p("id")
    assert(id.getLong(3) == 5 && id.getString(7) == "1" && id.getLong(8) == 1)
    // all-null column: profiled, never crashes, estimate 0, null stats
    val z = Profile.tableProfile(
      Seq((1L, null.asInstanceOf[String]), (2L, null.asInstanceOf[String]))
        .toDF("id", "z"), Seq("z")).collect()(0)
    assert(z.getLong(1) == 2 && z.getLong(2) == 2 && z.getLong(3) == 0)
    assert(z.isNullAt(4) && z.isNullAt(6) && z.isNullAt(7))
    // the KMV estimator arm engages above k and lands in a sane band
    val big = Profile.tableProfile(spark.range(500).toDF("id"), Seq("id"))
      .collect()(0)
    assert(big.getLong(3) > 250 && big.getLong(3) < 1000, big.getLong(3).toString)
    // unknown columns rejected loudly
    intercept[IllegalArgumentException] {
      Profile.tableProfile(df, Seq("nope"))
    }
    // duplicated names rejected loudly: the unpivot would union the
    // same column twice under one label, silently doubling
    // n_rows/n_null/mode counts while the distinct estimate doesn't
    intercept[IllegalArgumentException] {
      Profile.tableProfile(df, Seq("cat", "cat"))
    }
    ()
  }

  test("countAnomalies: spike flags, stable traffic does not, short history reports 0") {
    // pre-aggregated counts: 8 stable days (100..102 cycling) then a
    // spike; a second type with IDENTICAL counts and no spike
    def day(i: Int) = f"2021-03-${i + 1}%02d 00:00:00"
    val rows =
      (0 until 8).map(i => ("spiky", day(i), 100L + i % 3)) ++
        Seq(("spiky", day(8), 900L)) ++
        (0 until 9).map(i => ("calm", day(i), 100L + i % 3))
    val cnts = rows.toDF("event_type", "ds", "cnt")
      .select(col("event_type"), to_timestamp(col("ds")).as("day"), col("cnt"))
    val out = Profile.countAnomaliesFromCounts(cnts, "event_type")
      .collect().map(r => (r.getString(0), r.getTimestamp(1).toString.take(10)) ->
        (r.getLong(3), r.getInt(5))).toMap
    // day 9 of spiky: full 7-window baseline, spike flagged
    assert(out(("spiky", "2021-03-09")) === (7L, 1))
    // same position in calm traffic: no flag
    assert(out(("calm", "2021-03-09")) === (7L, 0))
    // early days: insufficient history -> 0, never a false alarm
    assert(out(("spiky", "2021-03-03"))._2 === 0)
    // zero-variance baseline: any deviation flags
    val flat = (0 until 8).map(i => ("f", day(i), 50L)) :+ (("f", day(8), 51L))
    val f2 = Profile.countAnomaliesFromCounts(
      flat.toDF("event_type", "ds", "cnt")
        .select(col("event_type"), to_timestamp(col("ds")).as("day"), col("cnt")),
      "event_type")
      .collect().map(r => r.getTimestamp(1).toString.take(10) -> r.getInt(5)).toMap
    assert(f2("2021-03-09") === 1)
  }

  test("temperatureCap: sqrt flattening under a budget, deterministic, overflow raise") {
    // skewed domains: "big" 400 rows, "mid" 100, "tiny" 4
    val rows = ((0 until 400).map(i => (i.toLong, "big")) ++
      (0 until 100).map(i => (1000L + i, "mid")) ++
      (0 until 4).map(i => (2000L + i, "tiny"))).toDF("id", "dom")
    val kept = Sampling.temperatureCap(rows, "dom", col("id"), budget = 100L)
      .groupBy(col("dom")).agg(count(lit(1)).as("k"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // exact caps: sw = round(sqrt(n)*1e6) -> (20e6, 10e6, 2e6), tw = 32e6
    // cap = sw*100 // tw -> (62, 31, 6)
    assert(kept == Map("big" -> 62L, "mid" -> 31L, "tiny" -> 4L), s"$kept")
    // tiny's cap (6) exceeds its size: the whole domain survives
    // flattening: big is 100x tiny by size but only ~15x by kept rows;
    // total within budget (flooring loses at most one row per domain)
    assert(kept.values.sum <= 100L)
    // deterministic under partitioning
    val again = Sampling.temperatureCap(rows.repartition(13), "dom",
        col("id"), budget = 100L)
      .collect().map(_.getAs[Long]("id")).toSet
    val first = Sampling.temperatureCap(rows, "dom", col("id"), budget = 100L)
      .collect().map(_.getAs[Long]("id")).toSet
    assert(again == first)
    // a NULL domain is a legal group: capped like any other, never
    // silently dropped (null-safe join — the r6 null-key class)
    val withNull = rows.unionByName(
      (0 until 9).map(i => (3000L + i, null.asInstanceOf[String])).toDF("id", "dom"))
    val keptN = Sampling.temperatureCap(withNull, "dom", col("id"), budget = 100L)
      .groupBy(col("dom")).agg(count(lit(1)).as("k"))
      .collect().map(r => Option(r.getString(0)).getOrElse("<null>") -> r.getLong(1)).toMap
    // sw: big 20e6, mid 10e6, tiny 2e6, null 3e6 -> tw 35e6
    // caps: 57, 28, 5, 8 -> null capped at 8, tiny keeps all 4
    assert(keptN == Map("big" -> 57L, "mid" -> 28L, "tiny" -> 4L, "<null>" -> 8L),
      s"$keptN")
    // weight x budget past 2^63 raises loudly, not silently wraps
    val boom = intercept[RuntimeException] {
      Sampling.temperatureCap(rows, "dom", col("id"),
        budget = Long.MaxValue / 1000L, weightScale = 1000000L).collect()
    }
    assert(boom.getMessage.contains("temperatureCap"), boom.getMessage)
  }

  test("temperatureCap: two-stage rank — partial per-partition window before the final domain rank") {
    // the cap is DATA (a per-domain column), so Spark's constant-limit
    // WindowGroupLimit rewrite can never fire; the skew guard must be
    // built in manually (the r9 verdict defect): a partial rank keyed
    // (domain, SPARK_PARTITION_ID()) filtered against the cap bounds the
    // final per-domain sort's input at cap x numPartitions — without it
    // a hot domain funnels its whole row set into ONE sort task
    val rows = ((0 until 400).map(i => (i.toLong, "big")) ++
      (0 until 20).map(i => (1000L + i, "small"))).toDF("id", "dom")
    val kept = Sampling.temperatureCap(rows.repartition(8), "dom",
      col("id"), budget = 60L)
    val plan = kept.queryExecution.optimizedPlan.toString
    assert(plan.contains("SPARK_PARTITION_ID"),
      s"temperatureCap lost its partial per-partition rank stage:\n$plan")
    val windows = "(?i)\\bwindow\\b".r.findAllIn(
      kept.queryExecution.executedPlan.toString).size
    assert(windows >= 2,
      s"expected partial+final Window nodes, saw $windows:\n" +
        kept.queryExecution.executedPlan.toString)
  }

  test("prioritySample: weight-biased, deterministic, partitioning-invariant") {
    // two weight classes: heavy rows (w=1000) must dominate a 50-sample
    // over light rows (w=1)
    val rows = (0L until 1000L).map(i => (i, if (i < 500) 1000L else 1L))
    val df = rows.toDF("id", "w")
    val picked = Sampling.prioritySample(df, col("id"), col("w"), 50)
      .select("id").as[Long].collect().toSet
    assert(picked.size == 50)
    assert(picked.count(_ < 500L) >= 45, s"heavy rows under-sampled: $picked")
    // identical under repartitioning (pure function of (key, seed))
    val repick = Sampling.prioritySample(df.repartition(13), col("id"),
      col("w"), 50).select("id").as[Long].collect().toSet
    assert(repick == picked)
    // different seed -> (almost surely) different sample
    val reseed = Sampling.prioritySample(df, col("id"), col("w"), 50,
      seed = 7L).select("id").as[Long].collect().toSet
    assert(reseed != picked)
    // weight <= 0 / NULL rows can never be sampled
    val withBad = df.withColumn("w",
      when(col("id") === 3L, lit(0L))
        .when(col("id") === 4L, lit(null: java.lang.Long))
        .otherwise(col("w")))
    val cleaned = Sampling.prioritySample(withBad, col("id"), col("w"), 1000)
      .select("id").as[Long].collect().toSet
    assert(!cleaned.contains(3L) && !cleaned.contains(4L))
    // a fractional weight column is a CONTRACT VIOLATION, rejected
    // loudly at plan time — truncation would silently exclude weights
    // in (0,1) and halve the inclusion probability of 1.9
    val fractional = df.withColumn("w",
      when(col("id") === 5L, lit(0.4)).otherwise(col("w").cast("double")))
    val e = intercept[IllegalArgumentException] {
      Sampling.prioritySample(fractional, col("id"), col("w"), 1000)
    }
    assert(e.getMessage.contains("integer-typed"))
  }

  test("shuffleByHash: contiguous positions, partitioning-invariant, seed-sensitive") {
    val df = (0L until 500L).map(i => (i, s"payload$i")).toDF("id", "v")
    val shuffled = Sampling.shuffleByHash(df, col("id"), seed = "s1")
    // schema: original columns + appended non-nullable LONG position
    assert(shuffled.columns.toSeq == Seq("id", "v", "shuffle_pos"))
    assert(!shuffled.schema("shuffle_pos").nullable)
    val pos = shuffled.select("shuffle_pos").as[Long].collect().sorted
    assert(pos.toSeq == (1L to 500L)) // contiguous 1..n, no gaps, no dups
    // the position of every row is a pure function of (seed, key):
    // identical under ANY input partitioning
    def run(d: org.apache.spark.sql.DataFrame) =
      Sampling.shuffleByHash(d, col("id"), seed = "s1")
        .select("id", "shuffle_pos").as[(Long, Long)].collect().toMap
    val base = run(df.repartition(1))
    assert(run(df.repartition(17)) == base)
    assert(run(df) == base)
    // a different seed draws a different order (almost surely)
    val reseeded = Sampling.shuffleByHash(df, col("id"), seed = "s2")
      .select("id", "shuffle_pos").as[(Long, Long)].collect().toMap
    assert(reseeded != base)
    // the order matches an independent recomputation of the md5 sort
    val expected = (0L until 500L)
      .sortBy { i =>
        val d = java.security.MessageDigest.getInstance("MD5")
          .digest(s"s1:$i".getBytes("UTF-8"))
        (d.map("%02x".format(_)).mkString, i.toString)
      }
      .zipWithIndex.map { case (id, i) => id -> (i + 1L) }.toMap
    assert(base == expected)
  }

  test("prioritySample: equal weights approximate a uniform sample") {
    val df = (0L until 2000L).map(i => (i, 1L)).toDF("id", "w")
    val picked = Sampling.prioritySample(df, col("id"), col("w"), 200)
      .select("id").as[Long].collect()
    assert(picked.length == 200)
    // halves of the id space get roughly half the sample each
    val lo = picked.count(_ < 1000L)
    assert(lo > 60 && lo < 140, s"suspiciously skewed uniform draw: $lo/200")
  }

  test("maximalDupSpans: overlapping dup grams merge; distinct spans stay apart") {
    val shared8 = "one two three four five six seven eight"
    val shared10 = shared8 + " nine ten" // 10 tokens -> 3 overlapping 8-grams
    val docs = Seq(
      (0L, s"unique0 prefix words here $shared10 tail0 tok tok"),
      (1L, s"$shared10 other words betwixt stuff $shared8"),
      (2L, s"also carries $shared8 somewhere else entirely okay")
    ).toDF("doc_id", "text")
    val out = TextAnalysis.maximalDupSpans(docs, "doc_id", "text", n = 8)
      .collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getInt(3), r.getLong(4)))
      .sortBy(x => (x._1, x._2))
    // doc 0: shared10 at tokens 4..13 -> one merged span of 10 tokens
    assert(out.count(_._1 == 0L) == 1)
    assert(out.find(_._1 == 0L).get == ((0L, 4, 13, 10, 3L)))
    // doc 1: two separate spans (positions 0..9 and 14..21)
    val d1 = out.filter(_._1 == 1L)
    assert(d1.length == 2)
    assert(d1(0) == ((1L, 0, 9, 10, 3L)))
    assert(d1(1) == ((1L, 14, 21, 8, 1L)))
    // doc 2: the 8-token shared span only
    assert(out.filter(_._1 == 2L) sameElements Array((2L, 2, 9, 8, 1L)))
    // no other spans: unique text contributes nothing
    assert(out.length == 4)
    // partitioning-invariant
    val repart = TextAnalysis.maximalDupSpans(docs.repartition(7), "doc_id",
        "text", n = 8).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getInt(3), r.getLong(4))).toSet
    assert(repart == out.toSet)
  }

  test("maximalDupSpans: adjacent (touching) windows merge, gap of one token splits") {
    // doc A and B share grams at A-positions 0 and 3 (n=3): windows
    // [0,2] and [3,5] touch -> merge into [0,5]
    val a = "p q r s t u leftover words"
    val docs = Seq((0L, a), (1L, "p q r xx s t u yy")).toDF("doc_id", "text")
    val out = TextAnalysis.maximalDupSpans(docs, "doc_id", "text", n = 3)
      .filter(col("doc_id") === 0L).collect()
      .map(r => (r.getInt(1), r.getInt(2)))
    assert(out.toSeq == Seq((0, 5)))
    // with the shared run split by a gap > n, two islands remain
    val far = Seq((0L, "p q r aa bb cc dd s t u"), (1L, "p q r zz s t u"))
      .toDF("doc_id", "text")
    val spans = TextAnalysis.maximalDupSpans(far, "doc_id", "text", n = 3)
      .filter(col("doc_id") === 0L).collect()
      .map(r => (r.getInt(1), r.getInt(2))).sorted
    assert(spans.toSeq == Seq((0, 2), (7, 9)))
  }

  test("ngramOverlapScreen: full copy flags, disjoint doesn't, no false negatives, short/null docs") {
    val bench = Seq(
      (0L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      (1L, "one two three four five six seven")).toDF("doc_id", "text")
    val train = Seq(
      // full copy of bench 0: every gram hits → flagged at any threshold
      (10L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      // disjoint vocabulary: zero exact hits
      (11L, "red orange yellow green blue indigo violet pink brown black"),
      // half-and-half: bench 1's text embedded in novel context
      (12L, "novel words precede here one two three four five six seven"),
      // short doc (< n tokens): whole-text gram, not in bench
      (13L, "tiny doc"),
      (14L, null)).toDF("doc_id", "text")
    val out = TextAnalysis.ngramOverlapScreen(train, "doc_id", "text",
        bench, "text", n = 5, numBits = 1 << 14, numHashes = 4, flagFrac = 0.5)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getBoolean(3))).toMap
    // doc 10: 6 grams, all in bench → flagged
    assert(out(10L) == ((6L, 6L, true)), s"got ${out(10L)}")
    // doc 11: no exact overlap; FP odds at 2^14 bits are ~0 for 6 grams
    assert(out(11L)._2 == 0L && !out(11L)._3)
    // doc 12: the 3 grams fully inside bench 1's text hit; 11 tokens →
    // 7 grams; 3/7 ≈ 0.43 < 0.5 → not flagged at this threshold
    assert(out(12L)._1 == 7L && out(12L)._2 >= 3L && !out(12L)._3)
    // doc 13: one whole-text gram, absent
    assert(out(13L) == ((1L, 0L, false)))
    // null text filtered, not crashed
    assert(!out.contains(14L))
    // no-false-negative: exact hits computed independently never exceed n_hit
    val exact = Map(10L -> 6L, 11L -> 0L, 12L -> 3L, 13L -> 0L)
    exact.foreach { case (id, e) => assert(out(id)._2 >= e, s"doc $id undercounts") }
  }

  test("ngramOverlapScreen: numBits 2^24 + 1 is refused, 2^24 runs") {
    val docs = Seq((0L, "alpha beta gamma delta epsilon zeta")).toDF("doc_id", "text")
    def screen(numBits: Int) =
      TextAnalysis.ngramOverlapScreen(docs, "doc_id", "text", docs, "text", n = 5, numBits = numBits)
    val e = intercept[IllegalArgumentException](screen((1 << 24) + 1))
    assert(e.getMessage.contains("numBits=16777217 exceeds the inlined-bitmap bound 2^24"))
    assert(e.getMessage.contains("Sketch.writeBloomIndex"))
    // 6 tokens → 2 five-grams, both in the benchmark copy of the same text
    val out = screen(1 << 24).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getBoolean(3))).toSeq
    assert(out == Seq((0L, 2L, 2L, true)))
  }

  test("decontaminatedSplit: eval twins quarantined, clean train passes, eval intact") {
    // arm assignment is hash-determined: discover ids per arm first
    val labels = Sampling.splitByHash(spark.range(0, 60).toDF("id"),
        col("id"), Seq("train" -> 0.5, "eval" -> 0.5)).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val evalIds = labels.collect { case (k, "eval") => k }.toSeq.sorted
    val trainIds = labels.collect { case (k, "train") => k }.toSeq.sorted
    val tenTok = "the quick brown fox jumps over the lazy dog tail"
    val docs = Seq(
      (evalIds(0), tenTok), // eval doc
      (trainIds(0), tenTok), // verbatim train twin -> quarantine
      (trainIds(1), "completely unrelated training material with zero gram overlap present"),
      (evalIds(1), "tiny doc"), // short eval: whole-text pseudo-gram
      (trainIds(2), "tiny doc")) // short train twin -> quarantine
      .toDF("doc_id", "text")
    val out = Sampling.decontaminatedSplit(docs, "doc_id", "text",
        col("doc_id"), Seq("train" -> 0.5, "eval" -> 0.5), "eval", n = 8)
      .select("doc_id", "split", "n_shared_grams").collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2)))).toMap
    assert(out(evalIds(0)) == (("eval", 0L)))
    assert(out(trainIds(0)) == (("quarantine", 3L))) // 10 tokens -> 3 shared 8-grams
    assert(out(trainIds(1)) == (("train", 0L)))
    assert(out(evalIds(1)) == (("eval", 0L)))
    assert(out(trainIds(2)) == (("quarantine", 1L))) // pseudo-gram match
    intercept[IllegalArgumentException] {
      Sampling.decontaminatedSplit(docs, "doc_id", "text", col("doc_id"),
        Seq("a" -> 1.0), "missing")
    }
    intercept[IllegalArgumentException] {
      Sampling.decontaminatedSplit(docs, "doc_id", "text", col("doc_id"),
        Seq("a" -> 0.5, "quarantine" -> 0.5), "a")
    }
  }

  test("exciseDupSpans: keeper keeps everything, copies lose the shared passage") {
    val shared10 = "one two three four five six seven eight nine ten"
    val docs = Seq(
      (5L, s"$shared10 keeper tail words"), // min id -> keeps all
      (9L, s"prefix bits $shared10 suffix piece"),
      (7L, "entirely unrelated text with no duplication at all right"))
      .toDF("doc_id", "text")
    val out = TextAnalysis.exciseDupSpans(docs, "doc_id", "text", n = 8)
      .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2), r.getLong(3))))
      .toMap
    assert(out(5L) == ((s"$shared10 keeper tail words", 13L, 0L)))
    assert(out(9L) == (("prefix bits suffix piece", 4L, 10L)))
    assert(out(7L)._3 == 0L) // untouched
    // partitioning-invariant
    val repart = TextAnalysis.exciseDupSpans(docs.repartition(7), "doc_id", "text", n = 8)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3))).toSet
    assert(repart == out.map { case (k, (a, b, c)) => (k, a, b, c) }.toSet)
  }

  test("exciseDupSpans: full excision yields empty text; short docs carry no grams") {
    val shared = "a b c d e f g h"
    val docs = Seq(
      (1L, shared), // keeper
      (2L, shared), // fully excised
      (3L, "a b c"), // under n tokens: never cut even if repeated
      (4L, "a b c"),
      (5L, ""), // token-free
      (6L, null.asInstanceOf[String])) // null text = token-free, not NULL counts
      .toDF("doc_id", "text")
    val out = TextAnalysis.exciseDupSpans(docs, "doc_id", "text", n = 8)
      .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2), r.getLong(3))))
      .toMap
    assert(out(1L) == ((shared, 8L, 0L)))
    assert(out(2L) == (("", 0L, 8L)))
    assert(out(3L) == (("a b c", 3L, 0L)) && out(4L) == (("a b c", 3L, 0L)))
    assert(out(5L) == (("", 0L, 0L)))
    // null text must match the empty-string row exactly — a NULL
    // n_tokens_removed would silently vanish from downstream sums
    assert(out(6L) == (("", 0L, 0L)))
  }

  test("exciseDupSpans: matching is case-insensitive, reassembly preserves case") {
    val docs = Seq(
      (1L, "One Two Three Four Five Six Seven Eight KEEP Me"),
      (2L, "one two three four five six seven eight But Different Tail Here"),
      (3L, "No Duplication Here At All In This Mixed Case Document"))
      .toDF("doc_id", "text")
    val out = TextAnalysis.exciseDupSpans(docs, "doc_id", "text", n = 8)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    // doc 1 is the keeper: original case intact
    assert(out(1L) == "One Two Three Four Five Six Seven Eight KEEP Me")
    // doc 2 loses the case-insensitively shared 8 tokens, keeps ITS case
    assert(out(2L) == "But Different Tail Here")
    // untouched doc: no silent lowercasing (the review-pass catch)
    assert(out(3L) == "No Duplication Here At All In This Mixed Case Document")
  }

  test("decontaminatedSplit: duplicate ids raise typed, never blend counts") {
    val docs = Seq((1L, "a b c d e f g h i j"), (1L, "k l m n o p q r"),
      (2L, "clean other text")).toDF("doc_id", "text")
    val e = intercept[Exception] {
      Sampling.decontaminatedSplit(docs, "doc_id", "text", col("doc_id"),
        Seq("train" -> 0.5, "eval" -> 0.5), "eval").collect()
    }
    assert(e.getMessage.contains("duplicate or null") ||
      Option(e.getCause).exists(_.getMessage.contains("duplicate or null")))
    // a single NULL id raises too (equi-joins drop null keys silently)
    val nullDocs = Seq((java.lang.Long.valueOf(3L), "some text here"),
      (null.asInstanceOf[java.lang.Long], "floating doc")).toDF("doc_id", "text")
    val e2 = intercept[Exception] {
      Sampling.decontaminatedSplit(nullDocs, "doc_id", "text", col("doc_id"),
        Seq("train" -> 0.5, "eval" -> 0.5), "eval").collect()
    }
    assert(e2.getMessage.contains("duplicate or null") ||
      Option(e2.getCause).exists(_.getMessage.contains("duplicate or null")))
  }

  test("exciseDupSpans: duplicate doc ids raise typed, never interleave") {
    // caught live: a probe corpus with colliding ids drove
    // n_tokens_removed NEGATIVE before the contract raise existed
    val docs = Seq((1L, "a b c d e f g h"), (1L, "x y z"), (2L, "ok fine"))
      .toDF("doc_id", "text")
    val e = intercept[Exception] {
      TextAnalysis.exciseDupSpans(docs, "doc_id", "text", n = 8).collect()
    }
    assert(e.getMessage.contains("duplicate or null") ||
      Option(e.getCause).exists(_.getMessage.contains("duplicate or null")))
    // a single NULL id raises too, instead of reporting the document
    // as fully excised after the null key drops from every join
    val nullDocs = Seq((java.lang.Long.valueOf(3L), "some text here"),
      (null.asInstanceOf[java.lang.Long], "hello world")).toDF("doc_id", "text")
    val e2 = intercept[Exception] {
      TextAnalysis.exciseDupSpans(nullDocs, "doc_id", "text", n = 8).collect()
    }
    assert(e2.getMessage.contains("duplicate or null") ||
      Option(e2.getCause).exists(_.getMessage.contains("duplicate or null")))
  }

  test("exciseDupSpans: intra-document repeats alone do not excise") {
    val run = "r1 r2 r3 r4 r5 r6 r7 r8"
    val docs = Seq(
      (1L, s"$run filler middle $run"), // repeats only within itself
      (2L, "totally different content here that is unique enough okay"))
      .toDF("doc_id", "text")
    val out = TextAnalysis.exciseDupSpans(docs, "doc_id", "text", n = 8)
      .collect().map(r => r.getLong(0) -> r.getLong(3)).toMap
    assert(out(1L) == 0L && out(2L) == 0L)
  }
}
