package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** KMV distinct-count sketch: exactness below k, estimator accuracy
  * above it, order/partitioning invariance, and mergeability. */
class SketchSpec extends SparkSpec {

  import spark.implicits._

  test("below k the sketch is exact and the estimate equals the true count") {
    val df = (0 until 500).map(i => ("k" + (i % 3), "v" + (i % 40))).toDF("key", "v")
    val sk = Sketch.kmvSketch(df, "key", "v", k = 64)
    val est = Sketch.kmvEstimate(sk, 64).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    // each key sees a subset of the 40 distinct values
    val truth = df.groupBy("key").agg(countDistinct(col("v")).as("n")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    truth.foreach { case (key, n) =>
      assert(est(key) == ((n, n)), s"$key: expected exact ($n,$n), got ${est(key)}")
    }
  }

  test("above k the estimate lands within the KMV error band") {
    val df = (0 until 60000).map(i => ("g" + (i % 2), "tok" + (i % 10000)))
      .toDF("key", "v")
    val k = 256
    val est = Sketch.kmvEstimate(Sketch.kmvSketch(df, "key", "v", k), k).collect()
    est.foreach { r =>
      val e = r.getLong(2)
      assert(r.getLong(1) == k)
      // true distinct per key = 5000; 1/sqrt(k-2) ~ 6.3%, allow 4 sigma
      assert(math.abs(e - 5000.0) / 5000.0 <= 0.25,
        s"${r.getString(0)}: estimate $e too far from 5000")
    }
  }

  test("sketch is invariant to row order and partitioning") {
    val rows = (0 until 20000).map(i => ("a", "v" + (i * 2654435761L % 7000)))
    val a = Sketch.kmvSketch(rows.toDF("key", "v").repartition(1), "key", "v", 64)
      .head().getSeq[Long](1)
    val b = Sketch.kmvSketch(
      scala.util.Random.shuffle(rows).toDF("key", "v").repartition(13), "key", "v", 64)
      .head().getSeq[Long](1)
    assert(a == b)
    assert(a == a.sorted && a.distinct == a, "sketch must be ascending and distinct")
  }

  test("merging day-sketches equals sketching the union") {
    val day1 = (0 until 8000).map(i => ("k", "d1-" + (i % 3000)))
    val day2 = (0 until 8000).map(i => ("k", "d2-" + (i % 2500)))
    val shared = (0 until 1000).map(i => ("k", "d1-" + i)) // overlap with day1
    val k = 128
    val s1 = Sketch.kmvSketch(day1.toDF("key", "v"), "key", "v", k)
    val s2 = Sketch.kmvSketch((day2 ++ shared).toDF("key", "v"), "key", "v", k)
    val merged = Sketch.kmvMerge(s1.unionByName(s2), k).head().getSeq[Long](1)
    val direct = Sketch.kmvSketch((day1 ++ day2 ++ shared).toDF("key", "v"),
      "key", "v", k).head().getSeq[Long](1)
    assert(merged == direct, "merge must equal the union sketch exactly")
  }

  test("count-min: exact without collisions, never undercounts with them") {
    val rows = (0 until 10000).map(i => ("k", "v" + (i % 50)))
    val df = rows.toDF("key", "v")
    val probes = (0 until 50).map(i => ("k", "v" + i)).toDF("key", "value")
    val truth = rows.groupBy(_._2).view.mapValues(_.size.toLong).toMap
    // wide sketch: 50 values over 4×4096 buckets — collisions absent
    val wide = Sketch.cmEstimate(Sketch.cmSketch(df, "key", "v", 4, 4096),
      probes, "key", "value", 4, 4096).collect()
    wide.foreach(r => assert(r.getLong(2) == truth(r.getString(1)),
      s"${r.getString(1)}: ${r.getLong(2)} != ${truth(r.getString(1))}"))
    // narrow sketch: collisions guaranteed — estimates may inflate but
    // can NEVER undercount
    val narrow = Sketch.cmEstimate(Sketch.cmSketch(df, "key", "v", 2, 16),
      probes, "key", "value", 2, 16).collect()
    narrow.foreach(r => assert(r.getLong(2) >= truth(r.getString(1))))
    // an absent value probes to 0 in the wide sketch
    val absent = Sketch.cmEstimate(Sketch.cmSketch(df, "key", "v", 4, 4096),
      Seq(("k", "nope")).toDF("key", "value"), "key", "value", 4, 4096).head()
    assert(absent.getLong(2) == 0L)
  }

  test("count-min: merge equals the union sketch; weighted counts sum weights") {
    val d1 = (0 until 3000).map(i => ("k", "a" + (i % 20))).toDF("key", "v")
    val d2 = (0 until 2000).map(i => ("k", "a" + (i % 35))).toDF("key", "v")
    val merged = Sketch.cmMerge(
      Sketch.cmSketch(d1, "key", "v", 3, 256).unionByName(
        Sketch.cmSketch(d2, "key", "v", 3, 256)))
      .orderBy("di", "bucket").collect().map(_.toSeq)
    val direct = Sketch.cmSketch(d1.unionByName(d2), "key", "v", 3, 256)
      .orderBy("di", "bucket").collect().map(_.toSeq)
    assert(merged.toSeq == direct.toSeq)
    // weighted: each value's estimate is the SUM of its weights
    val wdf = Seq(("k", "x", 5L), ("k", "x", 7L), ("k", "y", 2L)).toDF("key", "v", "w")
    val west = Sketch.cmEstimate(
      Sketch.cmSketch(wdf, "key", "v", 4, 1024, weightCol = Some("w")),
      Seq(("k", "x"), ("k", "y")).toDF("key", "value"), "key", "value", 4, 1024)
      .collect().map(r => r.getString(1) -> r.getLong(2)).toMap
    assert(west == Map("x" -> 12L, "y" -> 2L))
  }

  test("cmInnerProduct: exact without collisions, never undercounts, 0 on disjoint/one-sided, null keys") {
    val aRows = (0 until 6000).map(i => ("k", "v" + (i % 30)))
    val bRows = (0 until 4000).map(i => ("k", "v" + (i % 45)))
    val fa = aRows.groupBy(_._2).view.mapValues(_.size.toLong).toMap
    val fb = bRows.groupBy(_._2).view.mapValues(_.size.toLong).toMap
    val truth = fa.keySet.intersect(fb.keySet).toSeq.map(v => fa(v) * fb(v)).sum
    def ip(w: Int) = Sketch.cmInnerProduct(
      Sketch.cmSketch(aRows.toDF("key", "v"), "key", "v", 4, w),
      Sketch.cmSketch(bRows.toDF("key", "v"), "key", "v", 4, w), 4)
      .collect().map(r => Option(r.getString(0)) ->
        r.getDecimal(1).longValueExact()).toMap
    // wide: 45 values over 4×4096 buckets — collision-free, est exact
    assert(ip(4096) == Map(Some("k") -> truth))
    // narrow: collisions guaranteed — inflate allowed, undercount never
    assert(ip(16)(Some("k")) >= truth)
    // disjoint value sets: every depth row still joins (collisions can
    // share buckets) but some width keeps rows; estimate stays >= 0 and
    // a wide sketch proves 0
    val disj = Sketch.cmInnerProduct(
      Sketch.cmSketch(Seq(("k", "only_a")).toDF("key", "v"), "key", "v", 4, 4096),
      Sketch.cmSketch(Seq(("k", "only_b")).toDF("key", "v"), "key", "v", 4, 4096), 4)
      .collect().map(r => r.getDecimal(1).longValueExact())
    assert(disj.toSeq == Seq(0L))
    // a key on one side only estimates 0; null keys survive end-to-end
    val oneSided = Sketch.cmInnerProduct(
      Sketch.cmSketch(Seq(("ka", "x"), (null, "x")).toDF("key", "v"), "key", "v", 4, 64),
      Sketch.cmSketch(Seq(("kb", "x"), (null, "x")).toDF("key", "v"), "key", "v", 4, 64), 4)
      .collect().map(r => Option(r.getString(0)) -> r.getDecimal(1).longValueExact()).toMap
    assert(oneSided == Map(Some("ka") -> 0L, Some("kb") -> 0L, None -> 1L))
    // partitioning invariance: the estimate is a pure function of the sketches
    val a12 = Sketch.cmSketch(aRows.toDF("key", "v").repartition(12), "key", "v", 4, 256)
    val a1 = Sketch.cmSketch(aRows.toDF("key", "v").coalesce(1), "key", "v", 4, 256)
    val bS = Sketch.cmSketch(bRows.toDF("key", "v"), "key", "v", 4, 256)
    assert(Sketch.cmInnerProduct(a12, bS, 4).collect().map(_.toSeq).toSeq ==
      Sketch.cmInnerProduct(a1, bS, 4).collect().map(_.toSeq).toSeq)
  }

  test("bloom: no false negatives ever; absent values mostly definitely-absent; merge ORs") {
    val present = (0 until 400).map(i => ("k", "in" + i))
    val df = present.toDF("key", "v")
    val sk = Sketch.bloomSketch(df, "key", "v", numBits = 8192, numHashes = 4)
    // every inserted value MUST probe maybe-present (the bloom guarantee)
    val inProbe = Sketch.bloomMayContain(sk, present.toDF("key", "value"),
      "key", "value", 8192, 4).collect()
    assert(inProbe.forall(_.getBoolean(2)), "false negative — bloom contract broken")
    // absent values: deterministic hash → stable false-positive count;
    // 400 values at 8192 bits / 4 hashes gives fp ≈ (1-e^-0.195)^4 ≈ 0.1%
    val absent = (0 until 500).map(i => ("k", "out" + i)).toDF("key", "value")
    val fp = Sketch.bloomMayContain(sk, absent, "key", "value", 8192, 4)
      .filter(col("may_contain")).count()
    assert(fp <= 10, s"false-positive rate too high: $fp/500")
    // merging day-filters equals filtering the union
    val d1 = present.take(200).toDF("key", "v")
    val d2 = present.drop(150).toDF("key", "v") // overlap
    val merged = Sketch.bloomMerge(
      Sketch.bloomSketch(d1, "key", "v", 8192, 4).unionByName(
        Sketch.bloomSketch(d2, "key", "v", 8192, 4)))
      .orderBy("word_idx").collect().map(_.toSeq)
    val direct = sk.orderBy("word_idx").collect().map(_.toSeq)
    assert(merged.toSeq == direct.toSeq)
  }

  test("heavyHitters: exact results equal the naive aggregation; prescreen is semi-join-shaped") {
    // zipf-ish: value j occurs ~N/j times -> few heavy, long tail
    val rows = (1 to 60).flatMap(j => Seq.fill(600 / j)(("k" + (j % 2), "v" + j)))
    val df = rows.toDF("key", "v")
    for (min <- Seq(30L, 100L, 400L); width <- Seq(16, 1024)) {
      val got = Sketch.heavyHitters(df, "key", "v", min, depth = 3, width = width)
        .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
      val naive = df.groupBy("key", "v").count().filter(col("count") >= min)
        .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
      assert(got == naive, s"min=$min width=$width: $got != $naive")
    }
    // the prescreen plans as broadcast semi-joins (map-side), never a
    // value-keyed shuffle before the final pruned aggregation —
    // inspected via the private plan-only variant, since the public API
    // eagerly materializes and truncates its plan
    val plan = Sketch.heavyHittersPlanOnly(df, "key", "v", 100L, 3, 1024)
      .queryExecution.executedPlan.toString
    assert(plan.contains("LeftSemi") && plan.contains("BroadcastHashJoin"), plan.take(2000))
    // null-key groups survive exactly like the naive aggregation
    val withNulls = df.unionByName(
      Seq.fill(150)((null.asInstanceOf[String], "vn")).toDF("key", "v"))
    val gotN = Sketch.heavyHitters(withNulls, "key", "v", 100L, 3, 1024)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
    val naiveN = withNulls.groupBy("key", "v").count().filter(col("count") >= 100)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
    assert(gotN == naiveN && gotN.exists(_._1 == null),
      s"null-key heavy hitter must survive: $gotN")
    // an over-large candidate set falls back to the naive plan, same result
    val fb = Sketch.heavyHitters(df, "key", "v", 100L, 3, 1024, broadcastRowLimit = 0L)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
    assert(fb == Sketch.heavyHitters(df, "key", "v", 100L, 3, 1024)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet)
    // the decision comparator itself (result equality cannot tell the
    // two paths apart by contract)
    assert(!Sketch.prescreenPaysOff(5L, 0L) && Sketch.prescreenPaysOff(5L, 10L)
      && Sketch.prescreenPaysOff(10L, 10L))
  }

  test("cm/bloom probes find null-KEY groups (null-safe joins)") {
    val nk = (Seq.fill(40)((null.asInstanceOf[String], "x")) ++
      Seq.fill(7)(("k", "x"))).toDF("key", "v")
    val est = Sketch.cmEstimate(Sketch.cmSketch(nk, "key", "v", 3, 512),
      Seq((null.asInstanceOf[String], "x"), ("k", "x")).toDF("key", "value"),
      "key", "value", 3, 512)
      .collect().map(r => Option(r.getString(0)) -> r.getLong(2)).toMap
    assert(est == Map(None -> 40L, Some("k") -> 7L))
    val mc = Sketch.bloomMayContain(Sketch.bloomSketch(nk, "key", "v", 1024, 3),
      Seq((null.asInstanceOf[String], "x"), (null.asInstanceOf[String], "nope"))
        .toDF("key", "value"), "key", "value", 1024, 3)
      .collect().map(r => r.getString(1) -> r.getBoolean(2)).toMap
    assert(mc("x"), "null-key inserted value must probe maybe-present")
  }

  test("persisted bloom index: write/append/probe/compact lifecycle + heal") {
    val day1 = (0 until 300).map(i => ("k", "d1-" + i)).toDF("key", "v")
    val day2 = (0 until 300).map(i => ("k", "d2-" + i)).toDF("key", "v")
    val dir = tmpDir("bloom-idx")
    val path = dir.resolve("idx").toString
    Sketch.writeBloomIndex(day1, "key", "v", path, numBits = 8192, numHashes = 4)
    assert(Sketch.readBloomMeta(spark, path) == ((8192, 4)))
    Sketch.appendToBloomIndex(day2, "key", "v", path)
    // multi-segment probes ≡ a fresh sketch of the union
    val probes = ((0 until 50).map(i => ("k", "d1-" + i)) ++
      (0 until 50).map(i => ("k", "d2-" + i)) ++
      (0 until 50).map(i => ("k", "none-" + i))).toDF("key", "value")
    def probeMap(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getString(1) -> r.getBoolean(2)).toMap
    val viaIndex = probeMap(Sketch.probeBloomIndex(spark, path, probes, "key", "value"))
    val fresh = probeMap(Sketch.bloomMayContain(
      Sketch.bloomSketch(day1.unionByName(day2), "key", "v", 8192, 4),
      probes, "key", "value", 8192, 4))
    assert(viaIndex == fresh)
    assert((0 until 50).forall(i => viaIndex("d1-" + i) && viaIndex("d2-" + i)),
      "no false negatives across segments")
    // compaction: one row per (key, word_idx), probes unchanged
    Sketch.compactBloomIndex(spark, path)
    val rows = spark.read.parquet(path)
    assert(rows.groupBy("key", "word_idx").count().filter(col("count") > 1).isEmpty)
    assert(probeMap(Sketch.probeBloomIndex(spark, path, probes, "key", "value")) == viaIndex)
    // heal: recover the delete→rename crash window at the next read
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.rename(new org.apache.hadoop.fs.Path(path),
      new org.apache.hadoop.fs.Path(path + ".building"))
    assert(probeMap(Sketch.probeBloomIndex(spark, path, probes, "key", "value")) == viaIndex)
  }

  test("kmvSetEstimates: exact when both sides exact; estimator in band; one-sided and null keys") {
    // exact branch: 30 vs 20 values with overlap 10, all below k
    val A = (0 until 30).map(i => ("k", "v" + i)).toDF("key", "v")
    val B = (20 until 40).map(i => ("k", "v" + i)).toDF("key", "v")
    val e = Sketch.kmvSetEstimates(
      Sketch.kmvSketch(A, "key", "v", 64), Sketch.kmvSketch(B, "key", "v", 64), 64)
      .head()
    assert((e.getLong(1), e.getLong(2), e.getLong(3), e.getLong(4)) == ((30L, 20L, 40L, 10L)))
    assert(e.getDouble(5) == 0.25)
    // estimator branch: 5000 vs 4000 with 2000 shared, k=256
    val A2 = (0 until 5000).map(i => ("k", "u" + i)).toDF("key", "v")
    val B2 = (3000 until 7000).map(i => ("k", "u" + i)).toDF("key", "v")
    val e2 = Sketch.kmvSetEstimates(
      Sketch.kmvSketch(A2, "key", "v", 256), Sketch.kmvSketch(B2, "key", "v", 256), 256)
      .head()
    assert(math.abs(e2.getLong(1) - 5000.0) / 5000.0 <= 0.25)
    assert(math.abs(e2.getLong(3) - 7000.0) / 7000.0 <= 0.25, s"union ${e2.getLong(3)}")
    assert(math.abs(e2.getLong(4) - 2000.0) / 2000.0 <= 0.5, s"intersect ${e2.getLong(4)}")
    // a key present on one side only: its intersection is 0; null keys flow
    val A3 = ((0 until 10).map(i => ("only_a", "v" + i)) ++
      (0 until 5).map(i => (null.asInstanceOf[String], "n" + i))).toDF("key", "v")
    val B3 = (0 until 3).map(i => (null.asInstanceOf[String], "n" + i)).toDF("key", "v")
    val m = Sketch.kmvSetEstimates(
      Sketch.kmvSketch(A3, "key", "v", 64), Sketch.kmvSketch(B3, "key", "v", 64), 64)
      .collect().map(r => Option(r.getString(0)) -> (r.getLong(1), r.getLong(2), r.getLong(4))).toMap
    assert(m(Some("only_a")) == ((10L, 0L, 0L)))
    assert(m(None) == ((5L, 3L, 3L)), "null-key sketches must join null-safe")
  }

  test("histogram sketch: exact region identity, quantile error bound, merge ≡ union, partitioning invariance") {
    val subBits = 5
    // deterministic values spanning the exact region and several
    // power-of-two blocks (uniform over [0, 2^20))
    val rows = (0 until 30000).map(i => ("k" + (i % 3), (i * 2654435761L) % 1048576L))
    val df = rows.toDF("key", "v")
    val sk = Sketch.histSketch(df, "key", "v", subBits)
    // bucket(v) == v below 2^(subBits+1) — the exact region
    val small = (0L until 64L).toDF("v")
    assert(small.select(Sketch.histBucket(col("v"), subBits).as("b"), col("v"))
      .filter(col("b") =!= col("v")).isEmpty)
    // every extracted quantile lands in the bucket holding the true
    // rank-target value, so |est − exact| ≤ bucket width ≤ exact·2^-s
    val pcts = Seq(0, 25, 50, 75, 90, 99, 100)
    val est = Sketch.histQuantiles(sk, subBits, pcts).collect()
      .map(r => (r.getString(0), r.getInt(1)) -> r.getLong(2)).toMap
    val byKey = rows.groupBy(_._1).view.mapValues(_.map(_._2).sorted.toIndexedSeq).toMap
    for ((key, vs) <- byKey; p <- pcts) {
      val target = math.floor(p / 100.0 * (vs.size - 1)).toLong + 1
      val exact = vs((target - 1).toInt)
      val e = est((key, p))
      assert(math.abs(e - exact) <= math.max(1.0, exact * math.pow(2.0, -subBits)),
        s"$key p$p: est $e vs exact $exact breaks the 2^-$subBits bound")
    }
    // merging day-sketches equals sketching the union (counts add)
    val h1 = Sketch.histSketch(rows.take(15000).toDF("key", "v"), "key", "v", subBits)
    val h2 = Sketch.histSketch(rows.drop(15000).toDF("key", "v"), "key", "v", subBits)
    val merged = Sketch.histMerge(h1.unionByName(h2))
      .orderBy("key", "bucket").collect().map(_.toSeq)
    val direct = sk.orderBy("key", "bucket").collect().map(_.toSeq)
    assert(merged.toSeq == direct.toSeq)
    // partitioning cannot move a count
    val repart = Sketch.histSketch(df.repartition(17), "key", "v", subBits)
      .orderBy("key", "bucket").collect().map(_.toSeq)
    assert(repart.toSeq == direct.toSeq)
  }

  test("histCdf: exact in the exact region; weighted sketch ≡ row repetition; null/absent probes") {
    // values 0..19, five of each — the exact region, so CDF is exact counting
    val rows = Seq.tabulate(100)(i => ("k", (i % 20).toLong))
    val sk = Sketch.histSketch(rows.toDF("key", "v"), "key", "v", 5)
    val probes = Seq[(String, java.lang.Long)](
      ("k", 0L), ("k", 7L), ("k", 19L), ("k", 100L), ("k", null), ("absent", 5L))
      .toDF("key", "value")
    val got = Sketch.histCdf(sk, probes, "key", "value", 5).collect()
      .map(r => (r.getString(0), Option(r.get(1)).map(_.asInstanceOf[Long])) ->
        (r.getLong(2), r.getLong(3), r.getDouble(4))).toMap
    assert(got(("k", Some(0L))) == ((5L, 100L, 0.05)))
    assert(got(("k", Some(7L))) == ((40L, 100L, 0.4)))
    assert(got(("k", Some(19L))) == ((100L, 100L, 1.0)))
    assert(got(("k", Some(100L))) == ((100L, 100L, 1.0)), "past the max: full mass")
    assert(got(("k", None))._1 == 0L && got(("k", None))._3 == 0.0, "null probe: 0")
    val (ale, an, afrac) = got(("absent", Some(5L)))
    assert(ale == 0L && an == 0L && afrac.isNaN, "absent key: n=0, frac=NaN")
    // weight w ≡ w repeated rows — sketches identical
    val wdf = Seq(("k", 3L, 4L), ("k", 70L, 2L), ("k", 3L, 1L)).toDF("key", "v", "w")
    val rep = (Seq.fill(5)(("k", 3L)) ++ Seq.fill(2)(("k", 70L))).toDF("key", "v")
    val a = Sketch.histSketch(wdf, "key", "v", 5, Some("w"))
      .orderBy("bucket").collect().map(_.toSeq)
    val b = Sketch.histSketch(rep, "key", "v", 5)
      .orderBy("bucket").collect().map(_.toSeq)
    assert(a.toSeq == b.toSeq)
    // negative / null weights raise (they would corrupt rank selection)
    val wNeg = intercept[Exception](Sketch.histSketch(
      Seq(("k", 1L, -2L)).toDF("key", "v", "w"), "key", "v", 5, Some("w")).collect())
    assert(wNeg.getMessage.contains("non-negative"), wNeg.getMessage)
    intercept[Exception](Sketch.cmSketch(
      Seq(("k", "x", -1L)).toDF("key", "v", "w"), "key", "v", 3, 64,
      weightCol = Some("w")).collect())
  }

  test("histDistance: 0 identical, 1 disjoint, exact half-overlap, partition-invariant, one-sided keys") {
    def sk(rows: Seq[(String, Long)]) =
      Sketch.histSketch(rows.toDF("key", "v"), "key", "v", 5)
    val a = sk(Seq.fill(100)(("k", 0L)))
    val b = sk(Seq.fill(50)(("k", 0L)) ++ Seq.fill(50)(("k", 100L)))
    val c = sk(Seq.fill(100)(("k", 100L)))
    def tv(x: org.apache.spark.sql.DataFrame, y: org.apache.spark.sql.DataFrame) =
      Sketch.histDistance(x, y).collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(tv(a, a)("k") == 0.0)
    assert(tv(a, c)("k") == 1.0, "disjoint bucket distributions")
    assert(tv(a, b)("k") == 0.5, "half the mass moved: TV exactly 0.5")
    // decimal numerator: identical double under any partitioning
    val bRep = Sketch.histSketch(
      (Seq.fill(50)(("k", 0L)) ++ Seq.fill(50)(("k", 100L)))
        .toDF("key", "v").repartition(13), "key", "v", 5)
    assert(tv(a, bRep)("k") == 0.5)
    // a key present on one side only diverges totally
    val a2 = sk(Seq.fill(10)(("only", 5L)) ++ Seq.fill(10)(("k", 0L)))
    val m = tv(a2, sk(Seq.fill(10)(("k", 0L))))
    assert(m("only") == 1.0 && m("k") == 0.0)
    // domain-bound guard: weighted totals past ~7e18 each would blow
    // the DECIMAL(38,0) numerator mid-aggregation — the guard raises a
    // typed error instead (na*nb > ~4.9e37)
    def huge() = Sketch.histSketch(
      Seq(("k", 0L, 2400000000000000000L), ("k", 100L, 2400000000000000000L),
        ("k", 200L, 2400000000000000000L)).toDF("key", "v", "w"),
      "key", "v", 5, Some("w"))
    val e = intercept[Exception] {
      Sketch.histDistance(huge(), huge()).collect()
    }
    assert(e.getMessage.contains("histDistance") ||
      Option(e.getCause).exists(_.getMessage.contains("histDistance")), e.getMessage)
  }

  test("histBucket geometry properties over the full domain: containment and monotonicity") {
    // 100k deterministic values spanning every power-of-two block up to
    // 2^62 (xorshift-ish spread within each block) plus the block edges
    val edges = (0 until 63).flatMap { e =>
      val base = 1L << e
      Seq(base - 1, base, base + 1).filter(v => v >= 0 && v < (1L << 62))
    }
    val spread = (0 until 100000).map { i =>
      val e = i % 62
      // masked offset is already in [0, 2^e): value lands inside block e
      (1L << e) + ((i * 2654435761L) & ((1L << e) - 1))
    }
    // mirror everything across zero: the signed geometry must hold on
    // both sides (incl. the −(v+1) reflection's off-by-one band)
    val pos = edges ++ spread :+ 0L
    val df = (pos ++ pos.map(v => -v - 1L) :+ Long.MinValue).toDF("v")
    for (s <- Seq(1, 3, 5, 8)) {
      val b = Sketch.histBucket(col("v"), s)
      val lo = Sketch.histBucketLo(b, s)
      val width = Sketch.histBucketWidth(b, s)
      // containment: lo(bucket(v)) <= v < lo + width, for EVERY value
      val escapees = df.filter(!(lo <= col("v") && col("v") < lo + width)).count()
      assert(escapees == 0L, s"subBits=$s: $escapees values outside their bucket bounds")
      // monotonicity: sorted by v, bucket ids never decrease
      import org.apache.spark.sql.expressions.Window
      val w = Window.orderBy("v")
      val inversions = df.select(col("v"), b.as("b"))
        .withColumn("pb", lag(col("b"), 1).over(w))
        .filter(col("pb").isNotNull && col("pb") > col("b")).count()
      assert(inversions == 0L, s"subBits=$s: bucket id not monotone in v")
    }
  }

  test("histogram sketch: signed domain mirrors exactly; percents validated") {
    // bucket(v) = −1 − bucket⁺(−(v+1)): the exact region mirrors to
    // identity, and quantiles over signed data land on true values
    val vals = Seq(-100L, -33L, -32L, -31L, -1L, 0L, 1L, 31L, 32L, 99L, 100L)
    val got = vals.toDF("v")
      .select(col("v"), Sketch.histBucket(col("v"), 5).as("b"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // identity in the mirrored exact region, symmetry elsewhere
    for (v <- Seq(-32L, -31L, -1L, 0L, 1L, 31L, 32L)) assert(got(v) == v, s"v=$v")
    assert(got(-33L) == -1L - got(32L), "mirror at the exact-region edge")
    assert(got(-100L) == -1L - got(99L), "mirror: bucket(-v-1) reflects bucket(v)")
    // signed quantiles: median of a symmetric set is exact
    val sym = ((-50L to 49L).map(i => ("k", i))).toDF("key", "v")
    val med = Sketch.histQuantiles(Sketch.histSketch(sym, "key", "v", 5), 5, Seq(50))
      .head().getLong(2)
    assert(med == -1L, s"median of -50..49 at the floor-rank definition: $med")
    intercept[IllegalArgumentException](
      Sketch.histQuantiles(Sketch.histSketch(Seq(("k", 1L)).toDF("key", "v"), "key", "v", 5),
        5, Seq(101)))
  }

  test("persisted kmv index: write/append/estimate/compact lifecycle + heal") {
    val day1 = (0 until 4000).map(i => ("k" + (i % 2), "d1-" + (i % 1500))).toDF("key", "v")
    val day2 = (0 until 4000).map(i => ("k" + (i % 2), "d2-" + (i % 1200))).toDF("key", "v")
    val path = tmpDir("kmv-idx").resolve("idx").toString
    Sketch.writeKmvIndex(day1, "key", "v", path, k = 128)
    assert(Sketch.readKmvMeta(spark, path) == 128)
    Sketch.appendToKmvIndex(day2, "key", "v", path)
    def estMap(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    // multi-segment estimates ≡ a fresh sketch of the union
    val viaIndex = estMap(Sketch.kmvIndexEstimates(spark, path))
    val fresh = estMap(Sketch.kmvEstimate(
      Sketch.kmvSketch(day1.unionByName(day2), "key", "v", 128), 128))
    assert(viaIndex == fresh)
    Sketch.compactKmvIndex(spark, path)
    assert(spark.read.parquet(path).groupBy("key").count()
      .filter(col("count") > 1).isEmpty, "compact must leave one row per key")
    assert(estMap(Sketch.kmvIndexEstimates(spark, path)) == viaIndex)
    // heal: recover the delete→rename crash window at the next read
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.rename(new org.apache.hadoop.fs.Path(path),
      new org.apache.hadoop.fs.Path(path + ".building"))
    assert(estMap(Sketch.kmvIndexEstimates(spark, path)) == viaIndex)
  }

  test("persisted cm index: write/append/probe/compact lifecycle + heal") {
    val day1 = (0 until 3000).map(i => ("k", "a" + (i % 20))).toDF("key", "v")
    val day2 = (0 until 2000).map(i => ("k", "a" + (i % 35))).toDF("key", "v")
    val path = tmpDir("cm-idx").resolve("idx").toString
    Sketch.writeCmIndex(day1, "key", "v", path, depth = 3, width = 2048)
    assert(Sketch.readCmMeta(spark, path) == ((3, 2048)))
    Sketch.appendToCmIndex(day2, "key", "v", path)
    val probes = (0 until 35).map(i => ("k", "a" + i)).toDF("key", "value")
    def estMap(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getString(1) -> r.getLong(2)).toMap
    // segments SUM before the depth-min: estimates ≡ fresh union sketch
    // (per-segment mins would undercount split values)
    val viaIndex = estMap(Sketch.probeCmIndex(spark, path, probes, "key", "value"))
    val fresh = estMap(Sketch.cmEstimate(
      Sketch.cmSketch(day1.unionByName(day2), "key", "v", 3, 2048),
      probes, "key", "value", 3, 2048))
    assert(viaIndex == fresh)
    // the true counts ride under both (width 2048, 35 values: no collisions)
    assert(viaIndex("a0") == 150L + 58L && viaIndex("a30") == 57L)
    Sketch.compactCmIndex(spark, path)
    assert(spark.read.parquet(path).groupBy("key", "di", "bucket").count()
      .filter(col("count") > 1).isEmpty)
    assert(estMap(Sketch.probeCmIndex(spark, path, probes, "key", "value")) == viaIndex)
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.rename(new org.apache.hadoop.fs.Path(path),
      new org.apache.hadoop.fs.Path(path + ".building"))
    assert(estMap(Sketch.probeCmIndex(spark, path, probes, "key", "value")) == viaIndex)
  }

  test("index meta memo is keyed per family: one path read through both getters") {
    // a bloom sidecar holds (num_bits, num_hashes); the hist getter reads
    // its first column. Memoised under a shared bare-path key, the hist
    // read's one-element value would then be served to the bloom getter.
    val path = tmpDir("meta-alias").resolve("idx").toString
    Sketch.writeBloomIndex(Seq(("k", "a")).toDF("key", "v"), "key", "v", path,
      numBits = 4096, numHashes = 3)
    assert(Sketch.readHistMeta(spark, path) == 4096)
    assert(Sketch.readBloomMeta(spark, path) == ((4096, 3)))
    assert(Sketch.readHistMeta(spark, path) == 4096)
  }

  test("persisted hist index: write/append/quantiles/compact lifecycle + heal") {
    val day1 = (0 until 8000).map(i => ("k", (i * 2654435761L) % 65536L)).toDF("key", "v")
    val day2 = (0 until 8000).map(i => ("k", (i * 40503L) % 300000L)).toDF("key", "v")
    val path = tmpDir("hist-idx").resolve("idx").toString
    Sketch.writeHistIndex(day1, "key", "v", path, subBits = 5)
    assert(Sketch.readHistMeta(spark, path) == 5)
    Sketch.appendToHistIndex(day2, "key", "v", path)
    val pcts = Seq(10, 50, 95)
    def qMap(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getInt(1) -> r.getLong(2)).toMap
    val viaIndex = qMap(Sketch.histIndexQuantiles(spark, path, pcts))
    val fresh = qMap(Sketch.histQuantiles(
      Sketch.histSketch(day1.unionByName(day2), "key", "v", 5), 5, pcts))
    assert(viaIndex == fresh)
    Sketch.compactHistIndex(spark, path)
    assert(spark.read.parquet(path).groupBy("key", "bucket").count()
      .filter(col("count") > 1).isEmpty)
    assert(qMap(Sketch.histIndexQuantiles(spark, path, pcts)) == viaIndex)
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.rename(new org.apache.hadoop.fs.Path(path),
      new org.apache.hadoop.fs.Path(path + ".building"))
    assert(qMap(Sketch.histIndexQuantiles(spark, path, pcts)) == viaIndex)
  }

  test("null values are ignored; k < 2 rejected") {
    val df = Seq(("k", "a"), ("k", null), ("k", "b")).toDF("key", "v")
    val est = Sketch.kmvEstimate(Sketch.kmvSketch(df, "key", "v", 8), 8).head()
    assert(est.getLong(1) == 2L && est.getLong(2) == 2L)
    intercept[IllegalArgumentException](Sketch.kmvAgg(lit(1L), 1))
  }
}
