package graft
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.ops.{Dedup, TextAnalysis}

/** Scale sanity: replicate sf0.1 tables 10x (6M lineitem rows, 50k docs)
  * and check the headline operators complete with near-linear cost and
  * the same plan shapes. Usage: runMain graft.ScaleProbe */
object ScaleProbe {
  def main(args: Array[String]): Unit = {
    val spark = Harness.session(16, 32, "graft-scaleprobe")
    spark.sparkContext.setLogLevel("ERROR")
    // standalone-block fast path: `runMain graft.ScaleProbe fuzzy` runs
    // only the named self-contained block (iteration must not pay the
    // full probe's wall time); no args = the historical full sweep
    if (args.nonEmpty) {
      val known = Map("fuzzy" -> (() => fuzzyIndexBlock(spark)))
      val unknown = args.filterNot(known.contains)
      if (unknown.nonEmpty) {
        spark.stop()
        sys.error(s"unknown ScaleProbe block(s): ${unknown.mkString(",")} " +
          s"(known: ${known.keys.mkString(",")}) — a typo must not read " +
          "as a clean run")
      }
      args.foreach(a => known(a)())
      spark.stop()
      return
    }
    val dir = "/root/testdata/sf0.1"
    def t[A](label: String)(f: => A): A = { val t0 = System.nanoTime(); val r = f
      println(f"SCALE $label: ${(System.nanoTime() - t0) / 1e9}%.2f s"); r }
    def noop(df: org.apache.spark.sql.DataFrame) = df.write.format("noop").mode("overwrite").save()

    // 10x lineitem with distinct orderkeys per replica (keeps join keys sane)
    val l1 = Tables.load(spark, dir, "lineitem")
    l1.count() // warmup
    val replicas = (0 until 10).map(i => l1.withColumn("l_orderkey", col("l_orderkey") + lit(i * 10000000L)))
    val l10 = replicas.reduce(_ unionByName _)
    println("SCALE lineitem rows: " + l10.count())

    t("q1-shape agg 600k")(noop(l1.groupBy("l_returnflag", "l_linestatus")
      .agg(sum(col("l_quantity")), count(lit(1)))))
    t("q1-shape agg 6M")(noop(l10.groupBy("l_returnflag", "l_linestatus")
      .agg(sum(col("l_quantity")), count(lit(1)))))

    val orders = Tables.load(spark, dir, "orders")
    t("join+agg 600k")(noop(l1.join(orders, col("l_orderkey") === col("o_orderkey"))
      .groupBy("o_orderstatus").agg(count(lit(1)))))
    val o10 = (0 until 10).map(i => orders.withColumn("o_orderkey", col("o_orderkey") + lit(i * 10000000L)))
      .reduce(_ unionByName _)
    t("join+agg 6M x 1.5M")(noop(l10.join(o10, col("l_orderkey") === col("o_orderkey"))
      .groupBy("o_orderstatus").agg(count(lit(1)))))

    // 10x documents near-dedup (50k docs)
    val d1 = Tables.load(spark, dir, "documents").select("doc_id", "text")
    val d10 = (0 until 10).map(i => d1
        .withColumn("doc_id", col("doc_id") + lit(i * 1000000L))
        .withColumn("text", concat(col("text"), lit(s" replica$i"))))
      .reduce(_ unionByName _)
    val sh = d10.withColumn("shingles", Dedup.wordShingles(TextAnalysis.tokens(col("text")), 3))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    println("SCALE docs rows: " + sh.count())
    val pairs = t("minhash pairs 50k docs")(
      Dedup.nearDupPairs(sh, "doc_id", "shingles", 0.6).count())
    println("SCALE pairs found: " + pairs)

    // bucketed re-dedup: pay the bucketed write once; every later dedup
    // pass over the saved corpus aggregates bucket-locally (no exchange)
    val fp = d10.withColumn("fp", xxhash64(col("text")))
    spark.sql("DROP TABLE IF EXISTS scale_corpus_bkt")
    t("bucketed corpus write (once)")(
      fp.write.bucketBy(32, "fp").sortBy("fp").mode("overwrite").saveAsTable("scale_corpus_bkt"))
    val bkt = spark.table("scale_corpus_bkt")
    val rerun = Dedup.exactGroups(bkt, "fp", "doc_id")
    println("SCALE bucketed re-dedup exchange-free: " +
      !rerun.queryExecution.executedPlan.toString.contains("Exchange"))
    t("bucketed re-dedup 50k docs")(noop(rerun))
    t("unbucketed dedup 50k docs (contrast)")(noop(Dedup.exactGroups(fp, "fp", "doc_id")))
    spark.sql("DROP TABLE IF EXISTS scale_corpus_bkt")

    // embedding LSH bucket skew: histogram of hyperplane buckets at the
    // autoPlanes setting — top bucket must stay far below the maxBucket
    // guard for the pair stage to be bounded
    val emb = Tables.load(spark, dir, "embeddings")
    val nEmb = emb.count()
    val planes = graft.ops.Similarity.hyperplanes(64, graft.ops.Similarity.autoPlanes(nEmb))
    val buckets = emb.select(graft.ops.Similarity.bucketId(
      graft.ops.Similarity.normalize(col("embedding")), planes).as("bucket"))
    val top = graft.ops.Skew.keyHistogram(buckets, "bucket", 5).collect()
    println(s"SCALE embedding buckets: n=$nEmb planes=${planes.length} " +
      s"top=${top.map(r => r.getLong(1)).mkString(",")}")

    // round-2 pipeline ops at 10×
    t("repetition metrics 50k docs")(
      noop(TextAnalysis.repetitionMetrics(d10, "doc_id", "text")))
    val probes50 = d1.filter(col("doc_id") < 50)
      .select(col("doc_id").as("probe_id"),
        concat_ws(" ", slice(TextAnalysis.tokens(col("text")), 4, 8)).as("probe"))
      .filter(size(TextAnalysis.tokens(col("text"))) >= 11)
    val hits = t("decontamination 50k docs x 50 probes")(
      TextAnalysis.contaminated(d10, "doc_id", "text", probes50, "probe_id", "probe").count())
    println("SCALE contamination hits: " + hits)
    val e1 = Tables.load(spark, dir, "embeddings")
    val e10 = (0 until 10).map(i =>
        e1.withColumn("vec_id", col("vec_id") + lit(i * 1000000L)))
      .reduce(_ unionByName _)
    t("ivf+pq topk 20k vectors")(noop(graft.ops.Similarity.ivfPqTopK(
      e1.filter(col("vec_id") < 10), e10, "vec_id", "embedding", 5)))

    // round-6 drift observability at 20k vectors: write an IVF index,
    // chart per-cell occupancy + sampled quantization error (one narrow
    // index scan — the documented retrain criterion, made measurable)
    {
      val base = java.nio.file.Files.createTempDirectory("scale-drift")
      try {
        val p = base.resolve("ivf").toString
        val cts = graft.ops.Similarity.trainCentroids(e10, "embedding", 16)
        graft.ops.Similarity.writeIvfIndex(e10, "vec_id", "embedding", p, cts)
        val stats = t("ivf drift stats 20k vectors")(
          graft.ops.Similarity.indexDriftStats(spark, p).collect())
        val n = stats.map(_.getLong(2)).sum
        val err = stats.map(r => r.getDouble(3) * r.getLong(2)).sum / n
        println(f"SCALE ivf drift: cells=${stats.length} sampled=$n meanQerr=$err%.4f")
      } finally Paths.rmTree(base.toFile)
    }

    // salted join sanity on a deliberately hot key
    val hot = l1.withColumn("k", when(col("l_orderkey") % 100 === 0, lit(1L)).otherwise(col("l_orderkey")))
    val dim = spark.range(200).toDF("k").withColumn("v", col("k") * 2)
    val r = t("salted join")(graft.ops.Skew.saltedJoin(hot, dim, "k", 8).count())
    println("SCALE salted join rows: " + r)

    // round-3 pipeline ops at 10×: chunk + pack 50k docs end-to-end
    // (the pretraining prep path), mixture-sample + split the corpus.
    // Packing shards via hash(doc_id) so the corpus spreads
    // over 64 window tasks regardless of id distribution.
    val chunks10 = graft.ops.Chunking.chunkByTokens(d10, "doc_id", "text", 32, 24)
    t("chunk 50k docs")(noop(chunks10))
    t("chunk+pack 50k docs")(noop(graft.ops.Chunking.packGreedy(
      chunks10.withColumn("shard", pmod(xxhash64(col("doc_id")), lit(64)).cast("int")),
      col("shard"), col("n_tokens"), 4096, Seq(col("doc_id"), col("chunk_idx")))))
    t("mixture sample 50k docs")(noop(graft.ops.Sampling.mixtureByHash(
      d10.withColumn("source", concat(lit("src"), pmod(col("doc_id"), lit(20)))),
      "source", col("doc_id"),
      Map("src0" -> 1.0, "src1" -> 0.5, "src2" -> 0.0), 0.25)))
    t("split 50k docs")(noop(graft.ops.Sampling.splitByHash(
      d10, col("doc_id"), Seq("train" -> 0.9, "val" -> 0.05, "test" -> 0.05))))

    // round-3 continuation at 10×: boilerplate-line strip, duplicated
    // spans, the persisted minhash index (write once + probe a batch),
    // and SemDeDup over the 10× embeddings (10 exact replicas per
    // direction — every replica group must collapse within its cell).
    t("boilerplate strip 50k docs")(noop(TextAnalysis.removeBoilerplateLines(
      d10.withColumn("text",
        concat(col("text"), lit("\nSubscribe to our newsletter today"))),
      "doc_id", "text", minDocs = 1000)))
    t("dup spans 50k docs")(noop(
      TextAnalysis.duplicatedSpans(d10, "doc_id", "text", n = 8, minDocs = 2)))
    val idxBase = java.nio.file.Files.createTempDirectory("scale-mh")
    // the 10x shingle index is GBs — never leave it under /tmp, even
    // when the write or probe throws
    try {
      val idxPath = idxBase.resolve("idx").toString
      val corpus9 = sh.filter(col("doc_id") % 10 =!= 9)
      val batch1 = sh.filter(col("doc_id") % 10 === 9)
      t("minhash index write 45k docs")(
        Dedup.writeMinhashIndex(corpus9, "doc_id", "shingles", idxPath))
      val probed = t("minhash index probe 5k batch")(
        Dedup.probeMinhashIndex(spark, idxPath, batch1,
          "doc_id", "shingles", threshold = 0.6).count())
      println("SCALE indexed near-dup pairs: " + probed)
    } finally Paths.rmTree(idxBase.toFile)
    val cents128 = graft.ops.Similarity.trainCentroids(e10, "embedding", 128)
    val sem = t("semantic dedup 20k vectors")(
      graft.ops.Similarity.semanticDedup(e10, "vec_id", "embedding",
        threshold = 0.999, centroids = Some(cents128)).count())
    println("SCALE semdedup survivors: " + sem)

    // round-4 ops at 10×: a delta batch (~0.5% updates PLUS key-shifted
    // inserts, so both merge arms are exercised) upserted into the
    // 6M-row fact — the broadcast-anti-join shape must hold — and a CDC
    // fold whose window runs over the small change batch only;
    // int8-quantized top-k over the 20k-vector corpus.
    val updates = l10.filter(col("l_orderkey") % 200 === 0)
      .withColumn("l_quantity", col("l_quantity") + 1.0)
    val delta = updates.unionByName(
      updates.withColumn("l_orderkey", col("l_orderkey") + 1000000000L))
    t("upsert 6M target, 60k delta (upd+ins)")(noop(
      graft.ops.Merge.upsert(l10, delta, Seq("l_orderkey", "l_linenumber"))))
    val cdc = delta.withColumn("op",
        when(col("l_orderkey") % 600 === 0, lit("D")).otherwise(lit("U")))
      .withColumn("seq", lit(1L))
    t("cdc apply 6M target, 60k changes")(noop(
      graft.ops.Merge.applyChanges(l10, cdc, Seq("l_orderkey", "l_linenumber"))))
    t("int8 topk 20k vectors")(noop(graft.ops.Similarity.int8TopK(
      e1.filter(col("vec_id") < 10), e10, "vec_id", "embedding", 5)))

    // graph + clustering at 10×: the 20k-vector kNN edges feed
    // fixed-point PageRank (per iteration: one join + one hash agg)
    // and star components (O(log n) rounds); k-means at k=64 — the
    // assignment is a broadcast-literal projection, each update one
    // narrow LONG shuffle.
    val knn = t("knn graph 20k vectors")(
      graft.ops.Similarity.knnGraph(e10, "vec_id", "embedding", k = 5,
        maxCell = Int.MaxValue, centroids = Some(cents128)).localCheckpoint())
    println("SCALE knn edges: " + knn.count())
    t("pagerank 5 iters 20k nodes")(noop(graft.ops.Graph.pageRankInt(
      knn.select(col("query_id"), col("neighbor_id")),
      "query_id", "neighbor_id", iters = 5)))
    val comp = t("star components 20k nodes")(
      graft.ops.Graph.connectedComponentsStar(
        knn.select(col("query_id").as("id_a"), col("neighbor_id").as("id_b"))))
    println("SCALE component rows: " + comp.count())
    val (kmAssign, _) = t("kmeans k=64 3 iters 20k vectors")(
      graft.ops.Clustering.kmeans(e10, "vec_id", "embedding", k = 64, iters = 3))
    println("SCALE kmeans assigned: " + kmAssign.count())

    // round-5 at 10×: maximal dup-span merge — the heaviest
    // non-iterative gate (t16). Positional shingles are md5'd to
    // 16-byte keys before the frequency shuffle and the island merge
    // runs in per-doc windows (bounded by doc length), so 1× → 10×
    // must scale ~linearly; compare the two timings for the exponent.
    t("maximal dup spans 5k docs")(noop(
      TextAnalysis.maximalDupSpans(d1, "doc_id", "text", n = 8, minDocs = 2)))
    t("maximal dup spans 50k docs")(noop(
      TextAnalysis.maximalDupSpans(d10, "doc_id", "text", n = 8, minDocs = 2)))

    // round-5: BPE learning at 1× vs 10× corpus — each merge aggregates
    // over the word-frequency DICT, so the per-merge cost must track the
    // vocabulary (which grows sublinearly: the replicas reuse the same
    // words), not the corpus; only the initial dict-building pass is
    // corpus-linear.
    t("bpe learn 4 merges 5k docs")(
      graft.ops.Bpe.learn(d1, "text", numMerges = 4))
    val learned50k = t("bpe learn 4 merges 50k docs")(
      graft.ops.Bpe.learn(d10, "text", numMerges = 4))

    // round-6: production-shaped BPE ENCODE — a 512-deep merge chain
    // (learned head + letter-pair tail, most of which fire) through
    // encodeViaDict. The literal-replace fold at this depth is a
    // 512-nested expression (interpreted fallback + O(tokens×merges));
    // the dict path segments the DISTINCT vocabulary through the
    // BpeSegment kernel loop and broadcast-joins, so 10× docs costs ~1×
    // segmentation (replicas share the vocabulary) + a linear join.
    {
      val letters = ('a' to 'z').map(_.toString)
      val learnedPairs = learned50k.map(m => (m.left, m.right)).toSet
      val pad = (for (l <- letters; r <- letters) yield (l, r))
        .filterNot(learnedPairs)
      val chain = learned50k ++ pad.take(512 - learned50k.size).zipWithIndex
        .map { case ((l, r), i) => graft.ops.Bpe.Merge(learned50k.size + i + 1, l, r, 1L) }
      t("bpe encodeViaDict 512 merges 5k docs")(noop(
        graft.ops.Bpe.encodeViaDict(d1, "doc_id", "text", chain)))
      t("bpe encodeViaDict 512 merges 50k docs")(noop(
        graft.ops.Bpe.encodeViaDict(d10, "doc_id", "text", chain)))
    }

    // round-6 sketch tier at 1× vs 10×: bounded aggregation state means
    // the shuffle carries sketches (k longs / depth×width counters per
    // key), never the distinct token sets — cost should scale with the
    // corpus SCAN, not its cardinality
    {
      def toks(d: org.apache.spark.sql.DataFrame) = d.select(col("source"),
        explode(TextAnalysis.tokens(col("text"))).as("tok"))
      t("kmv sketch k=256 5k docs")(noop(
        graft.ops.Sketch.kmvSketch(toks(d1.withColumn("source", lit("all"))), "source", "tok", 256)))
      t("kmv sketch k=256 50k docs")(noop(
        graft.ops.Sketch.kmvSketch(toks(d10.withColumn("source", lit("all"))), "source", "tok", 256)))
      val d10k = d10.withColumn("source", (col("doc_id") % 20).cast("string"))
      t("cm sketch 4x1024 50k docs")(noop(
        graft.ops.Sketch.cmSketch(toks(d10k), "source", "tok", 4, 1024)))
      t("bloom 16k bits 50k docs")(noop(
        graft.ops.Sketch.bloomSketch(toks(d10k), "source", "tok", 16384, 4)))
      val hh = t("heavy hitters (CM prescreen) 50k docs")(
        graft.ops.Sketch.heavyHitters(toks(d10k), "source", "tok",
          minCount = 500L, depth = 3, width = 1024).count())
      println(s"SCALE heavy hitters found: $hh")
    }

    // round-5: centroid quality-classifier training at 1× vs 10× — one
    // feature pass (explode + hash agg) and two model-sized
    // aggregations; must scale ~linearly in the corpus while the
    // collected model stays a constant ≤256 rows.
    {
      def classify(d: org.apache.spark.sql.DataFrame, label: String): Unit = {
        val feats = graft.ops.Classifier.hashedFeatures(d, "doc_id", "text", 256)
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        val labels = d.select(col("doc_id"),
          when(size(array_distinct(TextAnalysis.tokens(col("text")))) >= 26, 1)
            .otherwise(-1).as("y"))
        val model = t(s"centroid train $label")(
          graft.ops.Classifier.trainCentroid(feats, labels))
        t(s"centroid score $label")(noop(
          graft.ops.Classifier.score(feats, d, model)))
        feats.unpersist()
      }
      classify(d1, "5k docs")
      classify(d10, "50k docs")
    }

    // round-5: Z-order layout at 10× — cluster the 6M-row fact on
    // (orderkey, partkey) low bits; cost = one range shuffle + local
    // sorts (what any global sort pays). Quality assert: a corner box
    // on BOTH keys must intersect only a fraction of the written files.
    {
      val zBase = java.nio.file.Files.createTempDirectory("scale-z")
      try {
        val zPath = zBase.resolve("t").toString
        // keys must FIT the interleave mask for raw min/max pruning to
        // benefit: partkey ≤ 20k and suppkey ≤ 1k both sit inside 16
        // bits at this scale
        t("zorder write 6M rows, 32 files")(
          graft.ops.Layout.zorderWrite(
            l10.select("l_partkey", "l_suppkey", "l_quantity"),
            col("l_partkey"), col("l_suppkey"), zPath, numFiles = 32))
        val ranges = graft.ops.Layout.fileRanges(
          spark.read.parquet(zPath), "l_partkey", "l_suppkey").cache()
        val total = ranges.count()
        // corner box on BOTH keys (≈ 1/16 of the key area): candidate
        // files are those whose footer ranges intersect it
        val cand = ranges.filter(col("a_min") <= 5000 && col("b_min") <= 250).count()
        println(s"SCALE zorder candidate files: $cand / $total")
        assert(cand * 2 <= total, "corner box should prune at least half the files")
        ranges.unpersist()

        // round-6 lifecycle: append a 600k batch (one range shuffle of
        // the BATCH only), then compact — re-clusters only z-overlapping
        // groups, two-phase swap. Quality must return to ~fresh-write.
        t("zorder append 600k batch")(
          graft.ops.Layout.appendZorder(
            l1.select("l_partkey", "l_suppkey", "l_quantity"),
            col("l_partkey"), col("l_suppkey"), zPath, numFiles = 4))
        val rew = t("zorder compact 6.6M rows")(
          graft.ops.Layout.compactZorder(spark, zPath,
            col("l_partkey"), col("l_suppkey"), numFiles = 32))
        val ranges2 = graft.ops.Layout.fileRanges(
          spark.read.parquet(zPath), "l_partkey", "l_suppkey").cache()
        val total2 = ranges2.count()
        val cand2 = ranges2.filter(col("a_min") <= 5000 && col("b_min") <= 250).count()
        println(s"SCALE zorder post-compact candidates: $cand2 / $total2 (rewrote $rew files)")
        assert(cand2 * 2 <= total2, "compacted layout should prune like a fresh write")
        ranges2.unpersist()
      } finally Paths.rmTree(zBase.toFile)
    }

    // round-5: SQLite row triggers at 10× — an audit trigger with an
    // INSERT-VALUES body runs SET-BASED (INSERT..SELECT over the
    // affected-row frame), so a 75k-row UPDATE fires one aggregate-free
    // insert of 75k audit rows, not 75k driver statements. The per-row
    // fallback is capped and would refuse this size.
    {
      // sessions never write back to their source files (mutations are
      // in-memory; no auto-save configured) — opening the testdata file
      // directly is safe
      val sess = graft.session.GraftSession.open(spark, s"$dir/orders.parquet")
      sess.sql("CREATE TABLE audit (okey INTEGER, act TEXT)")
      sess.sql("""CREATE TRIGGER au AFTER UPDATE ON orders BEGIN
        INSERT INTO audit VALUES (NEW.o_orderkey, 'U'); END""")
      t("trigger: 75k-row UPDATE with set-based audit body")(
        sess.sql("UPDATE orders SET o_totalprice = o_totalprice + 1.0 " +
          "WHERE o_orderkey % 2 = 0"))
      val audited = sess.sql("SELECT COUNT(*) AS n FROM audit").head().getLong(0)
      println(s"SCALE trigger audit rows: $audited")
      assert(audited == Tables.load(spark, dir, "orders")
        .filter(col("o_orderkey") % 2 === 0).count(), "audit row per affected row")
      sess.close()
    }

    // round-5: the streaming-CDC snapshot swap under CONCURRENT reads —
    // a reader loop (healSwap + read + retry, the documented
    // restartable-read discipline) consumes the snapshot while the
    // writer rewrites it via FsOps.swapDirs. Readers must only ever see
    // a complete old or new copy (count ∈ {1000, 2000}); transient
    // mid-swap failures are retried, never wrong data.
    val swapBase = java.nio.file.Files.createTempDirectory("scale-swap")
    try {
      val snap = swapBase.resolve("snap").toString
      val tmp = snap + ".rewriting"
      val v1 = d1.limit(1000).select("doc_id")
      val v2 = d1.limit(2000).select("doc_id")
      v1.write.mode("overwrite").parquet(snap)
      @volatile var stop = false
      @volatile var reads = 0L
      @volatile var retries = 0L
      @volatile var badReads = 0L
      // the reader does NOT healSwap in its loop: healSwap is the
      // restartable-read recovery for a CRASHED writer — a live reader
      // healing while a writer is mid-swap can steal the rename between
      // the writer's delete and its own rename and fail the swap.
      // Concurrent readers just retry transient mid-swap failures.
      val reader = new Thread(() => {
        while (!stop) {
          try {
            val c = spark.read.parquet(snap).count()
            if (c != 1000L && c != 2000L) badReads += 1
            reads += 1
          } catch { case _: Exception => retries += 1 }
        }
      })
      reader.start()
      t("snapshot swap x6 under concurrent reads") {
        for (i <- 1 to 6) {
          (if (i % 2 == 1) v2 else v1).write.mode("overwrite").parquet(tmp)
          graft.ops.FsOps.swapDirs(spark, tmp, snap)
        }
      }
      stop = true
      reader.join(30000)
      // at a restart point (no live writer) heal-then-read is the discipline
      graft.ops.FsOps.healSwap(spark, tmp, snap)
      val finalCount = spark.read.parquet(snap).count()
      println(s"SCALE swap-under-read: reads=$reads retries=$retries " +
        s"badReads=$badReads final=$finalCount")
      assert(badReads == 0L, "reader observed a torn snapshot")
      assert(finalCount == 1000L, s"final snapshot is v1 (6 swaps): $finalCount")
      assert(reads > 0L, "reader never completed a read")
    } finally Paths.rmTree(swapBase.toFile)

    // round-7: quantile histogram sketch at 6M values — the artifact
    // stays bucket-bounded (≤ ~58·32 rows per key) while the data grows
    // 10×; build is one narrow map-side-combined aggregation, and
    // extraction cost depends on bucket rows only, never on data volume
    {
      val vals = l10.select(col("l_returnflag").as("k"),
        round(col("l_extendedprice") * lit(100.0)).cast("long").as("v"))
      val sk = graft.ops.Sketch.histSketch(vals, "k", "v", subBits = 5)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val nBuckets = t("hist sketch build 6M values")(sk.count())
      println(s"SCALE hist sketch artifact rows: $nBuckets (from 6M values)")
      val est = t("hist quantile extraction (bucket rows only)")(
        graft.ops.Sketch.histQuantiles(sk, 5, Seq(25, 50, 75, 90, 99))
          .collect())
      val p50 = est.filter(r => r.getString(0) == "N" && r.getInt(1) == 50)
        .head.getLong(2)
      val exact = vals.filter(col("k") === "N")
        .agg(expr("percentile(v, 0.5D)")).head().getDouble(0)
      println(f"SCALE hist p50(N)=$p50 exact=$exact%.0f " +
        f"relerr=${math.abs(p50 - exact) / exact}%.4f")
      assert(math.abs(p50 - exact) / exact <= 0.04,
        s"hist p50 $p50 outside the relative bound vs $exact")
      sk.unpersist()
    }

    // round-7: KMV set algebra at 6M rows — supplier-set overlap between
    // line statuses per return flag; two bounded sketch passes + a
    // ≤k-array join, the corpus never re-touched for the set estimates
    {
      def side(status: String) = graft.ops.Sketch.kmvSketch(
        l10.filter(col("l_linestatus") === status)
          .select(col("l_returnflag").as("key"), col("l_suppkey").as("v")),
        "key", "v", 256)
      val ests = t("kmv set algebra 6M rows (sketches + estimates)")(
        graft.ops.Sketch.kmvSetEstimates(side("O"), side("F"), 256).collect())
      println("SCALE kmv set ops: " + ests.sortBy(_.getString(0)).map(r =>
        s"${r.getString(0)}:u=${r.getLong(3)},i=${r.getLong(4)}").mkString(" "))
      val exact = l10.filter(col("l_linestatus") === "O")
        .select(col("l_returnflag"), col("l_suppkey")).distinct()
        .join(l10.filter(col("l_linestatus") === "F")
          .select(col("l_returnflag"), col("l_suppkey")).distinct(),
          Seq("l_returnflag", "l_suppkey"))
        .groupBy("l_returnflag").agg(count(lit(1))).collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      ests.foreach { r =>
        val ex = exact.getOrElse(r.getString(0), 0L)
        assert(ex == 0 || math.abs(r.getLong(4) - ex.toDouble) / ex <= 0.5,
          s"set-ops intersect ${r.getLong(4)} too far from exact $ex")
      }
    }
    // round-8: the web-prep tier at 10× docs — 50k multi-paragraph
    // pages: markup strip (pure per-row regex chain), paragraph-level
    // dedup (one digest shuffle + one doc shuffle), URL normalization.
    {
      val d1 = Tables.load(spark, dir, "documents").select("doc_id", "text")
      val docs10 = (0 until 10).map(i =>
          d1.withColumn("doc_id", col("doc_id") + lit(i * 10000000L)))
        .reduce(_ unionByName _)
      // every page shares a boilerplate paragraph; text paragraphs
      // repeat via the %-key so cross-page dup mass is real (~2 copies)
      val pages = docs10.withColumn("text",
        concat(lit("<html><head><style>p{x:1}</style></head><body><p>"),
          col("text"), lit("</p><p>boilerplate &amp; footer</p></body></html>")))
      println("SCALE web pages: " + pages.count())
      t("markup strip 50k pages")(noop(pages.select(
        graft.ops.TextAnalysis.extractText(col("text")).as("t"))))
      val stripped = pages.select(col("doc_id"),
        graft.ops.TextAnalysis.extractText(col("text")).as("text"))
      val deduped = t("paragraph dedup 50k docs")(
        graft.ops.TextAnalysis.dedupParagraphs(
          stripped.withColumn("text",
            regexp_replace(col("text"), "boilerplate & footer",
              "boilerplate & footer\n\nshared tail")), "doc_id", "text")
          .agg(sum(col("n_paras")), sum(col("n_kept"))).collect()(0))
      println(s"SCALE paragraph dedup: paras=${deduped.getLong(0)} kept=${deduped.getLong(1)}")
      assert(deduped.getLong(1) < deduped.getLong(0) / 2,
        "cross-page repeats must actually dedup")
      t("url normalize 6M rows")(noop(l10.select(graft.ops.Web.normalizeUrl(
        concat(lit("HTTP://Site"), (col("l_partkey") % 1000).cast("string"),
          lit(".example.COM:80/p/"), col("l_suppkey").cast("string"),
          lit("/?id="), col("l_orderkey").cast("string"),
          lit("&utm_source=x#f"))).as("u"))))
    }

    // round-8: sketch-planned z-order write at 6M rows — boundaries from
    // a histogram sketch of the z values (bucket rows, no sampling
    // pass), then the planned write; file ranges must be disjoint and
    // the layout identical across two writes (the determinism the
    // sampled path cannot give)
    {
      val zBase = Paths.diskScratchDir("graft-scale-zplan-")
      try {
        val keyed = l10.select("l_partkey", "l_suppkey", "l_quantity")
        val zcol = graft.ops.Layout.zValue(col("l_partkey"), col("l_suppkey"))
        // subBits=8 for WRITE PLANNING: boundary placement error is
        // bounded by in-bucket mass, so finer buckets (0.39% relative
        // width, artifact still ≤ ~58·256 rows) directly bound file
        // imbalance on skewed key distributions — subBits=5 measured
        // 20× row skew on this data, 8 reads near-balanced
        val sk = t("z-value hist sketch 6M rows")(
          graft.ops.Sketch.histSketch(
            keyed.select(lit("_").as("k"), zcol.as("z")), "k", "z", 8).cache())
        sk.count()
        val bounds = graft.ops.Sketch.histBoundaries(sk, 8, 32)
        val p1 = zBase.resolve("w1").toString
        t("planned zorder write 6M rows / 32 files")(
          graft.ops.Layout.zorderWritePlanned(keyed,
            col("l_partkey"), col("l_suppkey"), p1, bounds))
        def ranges(p: String) = spark.read.parquet(p)
          .groupBy(input_file_name())
          .agg(min(zcol).as("zmin"), max(zcol).as("zmax"), count(lit(1)).as("n"))
          .collect().map(r => (r.getLong(1), r.getLong(2), r.getLong(3)))
          .sortBy(_._1).toSeq
        val r1 = ranges(p1)
        for (Seq((_, hi, _), (lo2, _, _)) <- r1.sliding(2))
          assert(hi < lo2, "planned files must cover disjoint z ranges")
        val p2 = zBase.resolve("w2").toString
        graft.ops.Layout.zorderWritePlanned(keyed,
          col("l_partkey"), col("l_suppkey"), p2, bounds)
        assert(ranges(p2) == r1, "same boundaries must give the same layout")
        println(s"SCALE planned zorder: files=${r1.size} " +
          s"maxRows=${r1.map(_._3).max} minRows=${r1.map(_._3).min}")
        sk.unpersist()
      } finally Paths.rmTree(zBase.toFile)
    }

    // round-8: CM inner-product join sizing at 6M rows — the estimate
    // reads two bounded sketches (width sized so collision mass is a
    // few % of the true inner product: E[overcount] ≈ na·nb/width);
    // exact Σ f_a·f_b computed once to pin the one-sided contract
    {
      def side(status: String) = graft.ops.Sketch.cmSketch(
        l10.filter(col("l_linestatus") === status)
          .select(col("l_returnflag").as("key"), col("l_suppkey").as("v")),
        "key", "v", depth = 4, width = 65536)
      val est = t("cm inner product 6M rows (sketches + estimate)")(
        graft.ops.Sketch.cmInnerProduct(side("O"), side("F"), 4).collect())
        .map(r => r.getString(0) -> r.getDecimal(1).longValueExact()).toMap
      val exact = l10.filter(col("l_linestatus").isin("O", "F"))
        .groupBy(col("l_returnflag"), col("l_suppkey"), col("l_linestatus"))
        .agg(count(lit(1)).as("c"))
        .groupBy(col("l_returnflag"), col("l_suppkey"))
        .agg(sum(when(col("l_linestatus") === "O", col("c"))).as("ca"),
          sum(when(col("l_linestatus") === "F", col("c"))).as("cb"))
        .filter(col("ca").isNotNull && col("cb").isNotNull)
        .groupBy(col("l_returnflag")).agg(sum(col("ca") * col("cb")).as("x"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      println("SCALE cm join sizes: " + est.toSeq.sortBy(_._1).map { case (k, e) =>
        f"$k:est=$e,exact=${exact.getOrElse(k, 0L)}" }.mkString(" "))
      est.foreach { case (k, e) =>
        val ex = exact.getOrElse(k, 0L)
        assert(e >= ex, s"cm inner product undercut exact at $k: $e < $ex")
        if (ex > 0) assert(e.toDouble / ex <= 1.2,
          s"cm inner product overcount at $k: $e vs $ex (width too narrow?)")
      }
    }

    // round-8: exact triangle counting at 50k nodes / 1.2M edges — 1000
    // disjoint 50-cliques, so every node's true count is C(49,2) = 1176
    // analytically. Degree-ordered orientation bounds the wedge join at
    // Σ outdeg² ≈ c³/3 per clique (~41M narrow rows total) — the
    // O(m^1.5) shape that survives power-law degree blow-ups
    {
      val c = 50
      val nodes = spark.range(0L, 1000L * c)
      // the last node of each clique has bound 0 and Spark's
      // sequence(1, 0) counts DOWN to [1, 0] — guard with an empty
      // array so the cliques are genuinely disjoint (no self loop, no
      // cross-clique bridge, no phantom node 50000)
      val bound = lit(c - 1) - (col("id") % c).cast("int")
      val edges = nodes.select(col("id").as("src"),
          explode(when(bound >= 1, sequence(lit(1), bound))
            .otherwise(array().cast("array<int>"))).as("off"))
        .select(col("src"), (col("src") + col("off")).as("dst"))
      val counts = t("triangle count 50k nodes / 1.2M edges")(
        graft.ops.Graph.triangleCounts(edges, "src", "dst")
          .agg(count(lit(1)), min(col("triangles")), max(col("triangles")))
          .head())
      println(s"SCALE triangles: nodes=${counts.getLong(0)} " +
        s"min=${counts.getLong(1)} max=${counts.getLong(2)}")
      assert(counts.getLong(0) == 1000L * c, "every clique node joins triangles")
      assert(counts.getLong(1) == 1176L && counts.getLong(2) == 1176L,
        "clique node count must be exactly C(49,2)")

      // round-8: k-core peeling on the same 1.2M-edge graph with a
      // 5-node tail chained onto each clique. k=2 makes the peel
      // GENUINELY iterative — only the tail tip has degree < 2, so the
      // chain dies one node per wave (5 waves) while every 50-clique
      // survives whole with internal degree 49
      // chain: clique-node → t0 → t1 → … → t4 (per clique)
      val chain = nodes.filter(col("id") % c === 0).select(
          (col("id") / c).cast("long").as("cl"),
          explode(sequence(lit(0), lit(4))).as("p"))
        .select(
          when(col("p") === 0, col("cl") * c)
            .otherwise(lit(1000L * c) + col("cl") * 5 + col("p") - 1).as("src"),
          (lit(1000L * c) + col("cl") * 5 + col("p")).as("dst"))
      val core = t("k-core peel 50k cliques + 5k tail nodes (k=2, 5 waves)")(
        graft.ops.Graph.kCore(edges.unionByName(chain), "src", "dst",
            k = 2, maxWaves = 10)
          .agg(count(lit(1)), min(col("degree"))).head())
      println(s"SCALE kcore: survivors=${core.getLong(0)} minDeg=${core.getLong(1)}")
      assert(core.getLong(0) == 1000L * c,
        "exactly the clique nodes survive 2-core peeling")
      assert(core.getLong(1) == 49L, "surviving degrees are pure clique degrees")
    }

    // round-8: DSIR importance scoring at 6M docs — two feature builds
    // (explode + hash agg over ~30M grams), a 256-row weight table, one
    // broadcast join + doc aggregation. Target = rows whose synthetic
    // text carries the rare token; the probe checks the selector
    // separates the classes at full corpus scale
    // ~5.5M-doc synthetic corpus shared by the DSIR and serving-path
    // probes (ONE localCheckpoint — a second copy would double block-
    // manager residency for the rest of the run). The natural
    // (l_orderkey, l_linenumber) key is NOT unique in this synthetic
    // lineitem (up to 6 rows per pair — the generator does not honor
    // the TPC-H PK; measured round 10 when duplicate ids drove
    // exciseDupSpans' removed-count NEGATIVE), so the frame is
    // explicitly deduped by id: every id-grouped consumer below
    // (DSIR, LM scoring, postings, excision) assumes row-unique ids.
    // dropDuplicates keeps an arbitrary row per key, but the EAGER
    // localCheckpoint materializes the choice once — stable for the
    // whole run, no retry-nondeterminism. A row_number discriminator
    // would be a single-partition global window; monotonically_
    // increasing_id is not retry-safe as a key (round-6 rule).
    // The rare-token plant keys off the SAME id so the target class
    // is exactly the planted class
    val did6m = col("l_orderkey") * 8 + col("l_linenumber")
    val docs6m = l10.select(did6m.as("doc_id"),
      concat(lit("tok"), (col("l_partkey") % 50).cast("string"),
        lit(" tok"), (col("l_suppkey") % 50).cast("string"),
        lit(" common filler words here"),
        when(did6m % 10 === 0, lit(" raretoken")).otherwise(lit("")))
        .as("text")).dropDuplicates("doc_id").localCheckpoint(eager = true)

    {
      val target = docs6m.filter(col("doc_id") % 10 === 0)
      val scored = t("DSIR importance 6M docs (model + score)")(
        graft.ops.Importance.ngramImportance(docs6m, target, "doc_id", "text")
          .withColumn("is_t", (col("doc_id") % 10 === 0).cast("int"))
          .groupBy(col("is_t"))
          .agg(count(lit(1)).as("n"), avg(col("score").cast("double") /
            greatest(col("n_grams"), lit(1L)).cast("double")).as("pg"))
          .orderBy(col("is_t")).collect())
      val Array(noise, tgt) = scored
      println(f"SCALE dsir: target pg=${tgt.getDouble(2)}%.4f (n=${tgt.getLong(1)}) " +
        f"noise pg=${noise.getDouble(2)}%.4f (n=${noise.getLong(1)})")
      assert(tgt.getDouble(2) > noise.getDouble(2),
        "target docs must out-score the pool per gram")
    }
    // round-9: persisted-artifact SERVING paths at 6M docs — the t32
    // (postings index) and t33 (LM filter) production shapes. The
    // claim under test: serving cost is INDEX-bounded — a BM25 query
    // touches only its terms' pruned postings (never the corpus text),
    // and LM scoring is one batch explode + broadcast joins against a
    // vocabulary-bounded model — so both stay flat as the corpus grows.
    {
      val dirIdx = graft.Paths.diskScratchDir("graft-scale-postings-")
      val pIdx = dirIdx.resolve("idx").toString
      try {
        t("postings index write 6M docs (once)")(
          graft.ops.Ranking.writePostingsIndex(docs6m, "doc_id", "text", pIdx))
        val terms = Seq("tok7", "tok13", "raretoken")
        def digest(df: org.apache.spark.sql.DataFrame) = df
          .agg(count(lit(1)), sum(round(col("bm25") * lit(1e6)).cast("long")))
          .head()
        val served = t("postings query served (3 terms)")(
          digest(graft.ops.Ranking.queryPostingsIndex(spark, pIdx, terms,
            logIdf = false)))
        val scanned = t("bm25 corpus scan 6M docs (contrast)")(
          digest(graft.ops.Ranking.bm25(docs6m, "doc_id", "text", terms,
            logIdf = false)))
        println(s"SCALE postings: served n=${served.getLong(0)} " +
          s"chk=${served.getLong(1)} scanned n=${scanned.getLong(0)} " +
          s"chk=${scanned.getLong(1)}")
        assert(served == scanned, "index-served BM25 must equal the corpus scan")

        val lmPath = dirIdx.resolve("lm").toString
        t("LM index write 3M reference docs (once)")(
          graft.ops.Lm.writeLmIndex(docs6m.filter(col("doc_id") % 2 === 0),
            "doc_id", "text", lmPath))
        val lmScored = t("LM scoring 3M candidate docs vs persisted model")(
          graft.ops.Lm.scoreWithLm(spark, lmPath,
              docs6m.filter(col("doc_id") % 2 === 1), "doc_id", "text")
            .agg(count(lit(1)), min(col("lm_score")), max(col("lm_score")))
            .head())
        println(f"SCALE lm: scored=${lmScored.getLong(0)} " +
          f"min=${lmScored.getDouble(1)}%.4f max=${lmScored.getDouble(2)}%.4f")
        assert(lmScored.getLong(0) > 2000000L, "every >=2-token candidate scores")
        assert(lmScored.getDouble(1) >= 0.0 && lmScored.getDouble(2) <= 1.0,
          "mean P(w2|w1) stays in [0,1]")
      } finally {
        val fs = new org.apache.hadoop.fs.Path(pIdx).getFileSystem(
          spark.sparkContext.hadoopConfiguration)
        fs.delete(new org.apache.hadoop.fs.Path(dirIdx.toString), true)
        ()
      }
    }
    // round-9: perceptual-hash index at 6M payloads — the mm06/e21
    // serving path at scale: hash+write once, then a probe batch joins
    // 16-byte signature rows (payload bytes never re-read). Payloads
    // are tiny sawtooth signals derived from the 6M doc ids; the probe
    // batch carries 5k re-encodes of INDEXED cores (must match) + 5k
    // novel descending-ramp signals (must not).
    {
      val payload = {
        val core = col("doc_id") % 100000L
        val n = lit(64) + pmod(core, lit(32))
        unhex(concat_ws("", transform(sequence(lit(0), n - 1), i =>
          lpad(hex(pmod(core * 31 + i * 7, lit(251))), 2, "0"))))
      }
      def reenc(core: org.apache.spark.sql.Column) = {
        val n = lit(64) + pmod(core, lit(32))
        unhex(concat_ws("", transform(sequence(lit(0), n - 1), i =>
          lpad(hex(least(lit(255), pmod(core * 31 + i * 7, lit(251)) +
              when(pmod(shiftright(i, 4), lit(8)) === 0, 40).otherwise(0))),
            2, "0"))))
      }
      // novels must be STRUCTURALLY distinct, not just phase-shifted: at
      // 100k-signature density a same-slope (or near-slope) signal lands
      // within 3 bits of SOME indexed phase (probe-measured: slope-11
      // "novels" matched 3.2k of 5k). A descending ramp inverts every
      // comparison bit — min distance 53 to any indexed sawtooth.
      def descRamp(core: org.apache.spark.sql.Column) = {
        val n = lit(64) + pmod(core, lit(32))
        unhex(concat_ws("", transform(sequence(lit(0), n - 1), i =>
          lpad(hex(pmod(core * 31 - i * 7, lit(251))), 2, "0"))))
      }
      val media6m = docs6m.select(col("doc_id"), payload.as("content"))
      val dirP = graft.Paths.diskScratchDir("graft-scale-phash-")
      val pIdx = dirP.resolve("idx").toString
      try {
        t("phash index write 6M payloads (once)")(
          graft.ops.Dedup.writePhashIndex(media6m, "doc_id", "content", pIdx))
        // core identity repeats every 100k ids, so the index holds ~87k
        // distinct signatures under heavy duplication (doc_id =
        // l_orderkey*8 + l_linenumber is never 0 mod 8, and orderkeys
        // have gaps) — realistic media. Copy cores are sampled from
        // cores ACTUALLY INDEXED: raw 0..4999 would include ~600
        // never-indexed cores whose re-encodes only match by the
        // density coincidence the novel comment below warns about
        val idxCores = media6m
          .select(pmod(col("doc_id"), lit(100000L)).as("core")).distinct()
          .orderBy(col("core")).limit(5000)
        // batch ids derive from the core (< 100k), staying under the
        // 200000000 novel-classification threshold
        val batch = idxCores.select(
            (col("core") + 100000000L).as("doc_id"),
            reenc(col("core")).as("content"))
          .unionByName(spark.range(5000).select(
            (col("id") + 200000000L).as("doc_id"),
            descRamp(col("id") % 100000L).as("content")))
        val probed = t("phash probe 10k batch vs 6M-payload index")(
          graft.ops.Dedup.probePhashIndex(spark, pIdx, batch,
              "doc_id", "content", maxBucket = Int.MaxValue)
            .groupBy((col("batch_id") >= 200000000L).as("novel"))
            .agg(countDistinct(col("batch_id")).as("n")).collect()
            .map(r => r.getBoolean(0) -> r.getLong(1)).toMap)
        println(s"SCALE phash: matched-copies=${probed.getOrElse(false, 0L)} " +
          s"matched-novel=${probed.getOrElse(true, 0L)}")
        assert(probed.getOrElse(false, 0L) == 5000L,
          "every re-encode must surface against the index")
        assert(probed.getOrElse(true, 0L) == 0L,
          "no descending-ramp novel may match")
      } finally {
        val fs = new org.apache.hadoop.fs.Path(pIdx).getFileSystem(
          spark.sparkContext.hadoopConfiguration)
        fs.delete(new org.apache.hadoop.fs.Path(dirP.toString), true)
        ()
      }
    }

    // round-9: HITS at 50k nodes / 1.2M edges (the clique fixture from
    // the triangle probe): per-iteration cost is two narrow joins + two
    // aggregates + two broadcast maxima; the eager half-step cuts keep
    // the plan constant-size across iterations. Clique edges are
    // ASCENDING-directed (src → src+off), so each clique's first node
    // has no in-links (auth 0 — hence authMin 0) and its last is the
    // strongest authority; the max-normalized top reads exactly scale
    {
      val c = 50
      val nodes = spark.range(0L, 1000L * c)
      val bound = lit(c - 1) - (col("id") % c).cast("int")
      val edges = nodes.select(col("id").as("src"),
          explode(when(bound >= 1, sequence(lit(1), bound))
            .otherwise(array().cast("array<int>"))).as("off"))
        .select(col("src"), (col("src") + col("off")).as("dst"))
      val hits = t("HITS 50k nodes / 1.2M edges (4 iterations)")(
        graft.ops.Graph.hitsInt(edges, "src", "dst", iters = 4)
          .agg(count(lit(1)), min(col("auth_q")), max(col("auth_q"))).head())
      println(s"SCALE hits: nodes=${hits.getLong(0)} " +
        s"authMin=${hits.getLong(1)} authMax=${hits.getLong(2)}")
      assert(hits.getLong(0) == 1000L * c)
      assert(hits.getLong(2) == 100000L, "some node carries the max authority")
    }

    // round-10: temperatureCap at 6M rows under the EXACT skew its r9
    // defect was about — one domain ("en") holding 90% of the corpus.
    // The partial (domain, input-partition) rank bounds what the final
    // per-domain sort sees at cap × numPartitions; without it the hot
    // domain funnels 5.4M rows into ONE sort task. Also asserts the
    // two-stage plan is actually present at this scale.
    {
      val rows = spark.range(0L, 6000000L).select(col("id"),
        when(col("id") % 10 < 9, lit("en"))
          .otherwise(concat(lit("t"), (col("id") % 97).cast("string")))
          .as("dom"))
      val kept = graft.ops.Sampling.temperatureCap(rows, "dom", col("id"),
        budget = 1000000L)
      assert(kept.queryExecution.optimizedPlan.toString
          .contains("SPARK_PARTITION_ID"),
        "temperatureCap lost its partial-rank skew guard")
      val byDom = t("temperatureCap 6M rows, 90%-hot domain, budget 1M")(
        kept.groupBy((col("dom") === "en").as("hot"))
          .agg(count(lit(1)).as("n")).collect()
          .map(r => r.getBoolean(0) -> r.getLong(1)).toMap)
      val total = byDom.values.sum
      println(s"SCALE temperatureCap: hot=${byDom.getOrElse(true, 0L)} " +
        s"tail=${byDom.getOrElse(false, 0L)} total=$total")
      assert(total <= 1000000L, "caps must respect the budget")
      // proportional allocation would hand the hot domain ~900k of the
      // 1M budget; √-flattening yields ~233k — the bound must sit
      // BETWEEN them or the assert green-lights the regression
      assert(byDom.getOrElse(true, 0L) <= 500000L,
        "the hot domain must be flattened, not kept proportionally")
    }

    // round-10: ANALYZE-style profile over the 6M-doc frame — two
    // aggregate passes over the unpivoted (column, value) rows, no
    // per-column windows, cost linear in rows × profiled columns
    t("tableProfile 6M docs x 2 cols")(
      noop(graft.ops.Profile.tableProfile(docs6m, Seq("doc_id", "text"))))

    // round-10: soft dedup at the 50k-doc near-dup closure scale — the
    // 10 replicas of each base doc differ only in their suffix token,
    // so components are ~10-wide and weights land at scale/10; the
    // component map is pairs-bounded, the join back broadcast-friendly
    {
      val pairs10 = Dedup.nearDupPairs(sh, "doc_id", "shingles", 0.6)
      val w = t("softDedupWeights 50k docs (pairs + components + join)")(
        graft.ops.Dedup.softDedupWeights(
            d10.select(col("doc_id")), "doc_id", pairs10, scale = 1000L)
          .groupBy(col("cluster_size")).agg(count(lit(1)).as("n"))
          .orderBy(col("cluster_size").desc).limit(3).collect()
          .map(r => r.getLong(0) -> r.getLong(1)))
      println("SCALE softDedup top cluster sizes: " +
        w.map { case (s2, n2) => s"$s2($n2)" }.mkString(", "))
      assert(w.nonEmpty && w.head._1 >= 2L,
        "replica clusters must surface as multi-member components")
    }

    // round-10: unigram tokenizer at 6M docs — the claim under test:
    // learning is DICT-bounded (one corpus pass counts words; the seed
    // pass and both hard-EM rounds run over the vocabulary-sized dict,
    // every collect model-sized), and encoding is a pure per-row
    // kernel whose cost is the corpus pass itself
    {
      val model = t("unigram learn 6M docs (dict-bounded, 2 EM rounds)")(
        graft.ops.Unigram.learn(docs6m, "text", vocabSize = 64,
          seedMulti = 200))
      println(s"SCALE unigram: pieces=${model.size} " +
        s"multi=${model.count(_.piece.length > 1)}")
      assert(model.nonEmpty && model.exists(_.piece.length > 1),
        "a 6M-doc corpus with a shared vocabulary must learn multi pieces")
      val enc = t("unigram encode 6M docs (per-row DP kernel)")(
        graft.ops.Unigram.encodePieces(docs6m, "doc_id", "text", model)
          .agg(count(lit(1)).as("n"),
            sum(size(col("pieces")).cast("long")).as("np")).head())
      println(s"SCALE unigram encode: docs=${enc.getLong(0)} pieces=${enc.getLong(1)}")
      assert(enc.getLong(1) > enc.getLong(0),
        "encoded piece count must exceed doc count")
    }

    // round-10 (cont.): audio tier at 2M WAV payloads — decode +
    // features is one fused kernel pass; the fingerprint index is the
    // phash serving story with the audio kernel (signatures written
    // once, a 10k re-record batch joins 16-byte rows). Payloads are
    // 8-bit mono PCM built as hex (construction cost dominates, like
    // the phash fixture — real corpora arrive as bytes), so the frame
    // is persisted and construction timed apart from the operators.
    {
      // ONE container builder parameterized by the per-sample byte
      // expression — the header/chunk scaffolding exists exactly once
      // so fixture variants can never diverge on the RIFF layout
      type C = org.apache.spark.sql.Column
      def wav8(core: C, sample: (C, C) => C) = {
        val n = lit(96) + pmod(core, lit(32))
        val szHex = concat(lpad(hex(n), 2, "0"), lit("000000"))
        val riffHex = concat(lpad(hex(n + 36), 2, "0"), lit("000000"))
        unhex(concat(lit("52494646"), riffHex, lit("57415645"),
          lit("666D7420" + "10000000" + "0100" + "0100" +
            "401F0000" + "401F0000" + "0100" + "0800"),
          lit("64617461"), szHex,
          concat_ws("", transform(sequence(lit(0), n - 1), i =>
            lpad(hex(sample(core, i)), 2, "0")))))
      }
      def saw(c: C, i: C): C = pmod(c * 37 + i * 11, lit(247))
      val audio2m = spark.range(0L, 2000000L)
        .select(col("id").as("doc_id"),
          wav8(col("id") % 100000L, saw).as("content"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      t("audio fixture build 2M WAVs (hex construction, once)")(
        audio2m.count())
      val stats = t("audio decode+features 2M payloads (fused kernel)")(
        graft.ops.Audio.audioStatColumns(audio2m)
          .agg(count(lit(1)), min(col("sample_rate")), max(col("n_samples")),
            max(col("peak_abs"))).head())
      println(s"SCALE audio stats: n=${stats.getLong(0)} " +
        s"rate=${stats.getLong(1)} maxN=${stats.getLong(2)} " +
        s"peak=${stats.getLong(3)}")
      assert(stats.getLong(0) == 2000000L && stats.getLong(1) == 8000L)
      val dirA = graft.Paths.diskScratchDir("graft-scale-afp-")
      val aIdx = dirA.resolve("idx").toString
      try {
        t("audio fingerprint index write 2M payloads (once)")(
          graft.ops.Audio.writeFingerprintIndex(audio2m, "doc_id", aIdx))
        // 10k DC(+4)-shifted re-records of INDEXED cores must all
        // surface (the fingerprint is exactly DC-invariant); 5k
        // descending-ramp novels must not (the phash structural-
        // distinctness lesson)
        val batch = spark.range(0L, 10000L)
          .select((col("id") + 100000000L).as("doc_id"),
            wav8(col("id") * 10L, (c, i) => saw(c, i) + 4).as("content"))
          .unionByName(spark.range(0L, 5000L)
            .select((col("id") + 200000000L).as("doc_id"),
              wav8(col("id"), (c, i) => lit(246) - saw(c, i)).as("content")))
        val probed = t("audio probe 15k batch vs 2M-payload index")(
          graft.ops.Audio.probeFingerprintIndex(spark, aIdx, batch, "doc_id",
              maxBucket = Int.MaxValue)
            .groupBy((col("batch_id") >= 200000000L).as("novel"))
            .agg(countDistinct(col("batch_id")).as("n")).collect()
            .map(r => r.getBoolean(0) -> r.getLong(1)).toMap)
        println(s"SCALE audio probe: matched-copies=${probed.getOrElse(false, 0L)} " +
          s"matched-novel=${probed.getOrElse(true, 0L)}")
        assert(probed.getOrElse(false, 0L) == 10000L,
          "every DC-shifted re-record must surface against the index")
        assert(probed.getOrElse(true, 0L) == 0L,
          "no descending-ramp novel may match")
      } finally {
        val fs = new org.apache.hadoop.fs.Path(aIdx).getFileSystem(
          spark.sparkContext.hadoopConfiguration)
        fs.delete(new org.apache.hadoop.fs.Path(dirA.toString), true)
        ()
      }
      audio2m.unpersist()
    }

    // round-10 (cont.): exact-substring excision at 6M docs — the
    // whole chain (positional md5 grams → distinct-doc frequency +
    // keeper → coverage explode → anti-join → per-doc reassembly)
    // over ~30M grams. The synthetic texts share their middle, so
    // nearly every doc is cut and only per-gram keepers survive
    // intact — the worst-case coverage volume, not the average one.
    {
      val exc = t("exciseDupSpans 6M docs (n=4, ~30M grams)")(
        graft.ops.TextAnalysis.exciseDupSpans(docs6m, "doc_id", "text", n = 4)
          .agg(count(lit(1)).as("n"), sum(col("n_tokens_kept")).as("kept"),
            sum(col("n_tokens_removed")).as("rm"),
            min(col("n_tokens_removed")).as("minRm")).head())
      println(s"SCALE excise: docs=${exc.getLong(0)} kept=${exc.getLong(1)} " +
        s"removed=${exc.getLong(2)} minRemoved=${exc.getLong(3)}")
      assert(exc.getLong(0) == docs6m.count(), "every doc must surface")
      assert(exc.getLong(3) == 0L, "per-gram keepers must survive intact")
      assert(exc.getLong(2) > exc.getLong(1),
        "a middle-sharing corpus must lose most of its tokens")
    }

    // round-10 (cont.): real-JPEG decode throughput — 200 distinct
    // baseline JPEGs (encoded driver-side by the JDK's ImageIO codec:
    // the fixture encoder, not the operator) replicated to 500k rows
    // through a broadcast join, hashed by the fused decode path. The
    // decode arm is pinned DIRECTLY (decoded hash != bytes hash on a
    // fixture); the distinct count is a loose band, not 200 — the
    // fixtures differ partly by DC brightness, which dHash ignores BY
    // DESIGN, so a few collisions are the hash working (first cut
    // asserted exactly 200 and failed at 191).
    {
      val jpegs = (0 until 200).map { k =>
        val img = new java.awt.image.BufferedImage(128, 96,
          java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
        val ras = img.getRaster
        for (y <- 0 until 96; x <- 0 until 128)
          ras.setSample(x, y, 0, (x * 3 + y * 2 + (x * y + k * 37) % 29 + k) % 256)
        val writer = javax.imageio.ImageIO
          .getImageWritersByFormatName("jpeg").next()
        val p = writer.getDefaultWriteParam
        p.setCompressionMode(javax.imageio.ImageWriteParam.MODE_EXPLICIT)
        p.setCompressionQuality(0.85f)
        val bos = new java.io.ByteArrayOutputStream()
        val ios = new javax.imageio.stream.MemoryCacheImageOutputStream(bos)
        writer.setOutput(ios)
        writer.write(null, new javax.imageio.IIOImage(img, null, null), p)
        ios.flush(); writer.dispose()
        (k.toLong, bos.toByteArray)
      }
      assert(graft.functions.JpegDecodeImpl.jpegLuma(jpegs.head._2) != null,
        "fixture JPEG must decode, not fall back")
      assert(graft.functions.PngDecodeImpl.dhashDecoded63(jpegs.head._2) !=
        graft.functions.PerceptualHashImpl.dhash63(jpegs.head._2),
        "the hash must come from decoded pixels, not container bytes")
      import spark.implicits._
      val dict = broadcast(jpegs.toDF("k", "content"))
      val media = spark.range(0L, 500000L)
        .select(col("id"), pmod(col("id"), lit(200L)).as("k"))
        .join(dict, "k")
      val hashed = t("jpeg decode+dhash 500k payloads (200 distinct 128x96)")(
        media.select(graft.functions.PngDecode.dhashDecoded(col("content"))
            .as("ph"))
          .agg(count(lit(1)), countDistinct(col("ph"))).head())
      println(s"SCALE jpeg: rows=${hashed.getLong(0)} distinct=${hashed.getLong(1)}")
      assert(hashed.getLong(0) == 500000L)
      assert(hashed.getLong(1) >= 150L && hashed.getLong(1) <= 200L,
        s"distinct hash band (measured 191 on this fixture): ${hashed.getLong(1)}")
    }

    // round-10 (cont.): JL sign projection at 6M 64-dim vectors — one
    // tight-loop kernel per row, no shuffle; throughput here is the
    // 100 TB per-partition cost. The vector frame is persisted so the
    // fixture transform (64 pmod/divisions per row) is timed apart
    // from the kernel: the first unrolled-expression cut hid inside
    // that mix at ~69 s total; the kernel pass stands alone now.
    {
      val vecs = spark.range(0L, 6000000L).select(col("id"),
        transform(sequence(lit(0), lit(63)),
          d => pmod(col("id") * 31 + d * 7, lit(1000)).cast("double") / 500.0 - 1.0)
          .as("v"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      t("jl fixture build 6M x 64-dim vectors (once)")(vecs.count())
      val p = t("randomProject 6M x (64 -> 16) vectors (kernel)")(
        vecs.select(col("id"),
            graft.ops.Similarity.randomProject(col("v"), 64, 16).as("p"))
          .agg(count(lit(1)), min(element_at(col("p"), 1)),
            max(element_at(col("p"), 1))).head())
      println(s"SCALE jl: n=${p.getLong(0)} c1min=${p.getLong(1)} c1max=${p.getLong(2)}")
      assert(p.getLong(0) == 6000000L && p.getLong(1) < p.getLong(2))

      vecs.unpersist()
    }

    // round-11: decontaminated split at corpus scale — the p21 shape
    // over the shared 4.57M-doc frame. This fixture is a CONTAMINATION
    // WORST CASE: the vocabulary is 2.5k distinct gram variants across
    // millions of docs, so nearly every train doc shares a gram with
    // the eval arm — the quarantine join fans out maximally while the
    // gram shuffle still only carries 16-byte digests.
    {
      val out = t("decontaminatedSplit 4.57M docs (8-gram quarantine)")(
        graft.ops.Sampling.decontaminatedSplit(docs6m, "doc_id", "text",
            md5(col("doc_id").cast("string")),
            Seq("train" -> 0.9, "eval" -> 0.1), "eval")
          .groupBy(col("split")).agg(count(lit(1)).as("n"))
          .collect().map(r => r.getString(0) -> r.getLong(1)).toMap)
      println(s"SCALE decontam split: $out")
      assert(out.values.sum == docs6m.count(), "no rows lost or invented")
      assert(out.getOrElse("quarantine", 0L) > 0L, "worst case must quarantine")
      assert(out.getOrElse("eval", 0L) > 0L, "eval arm survives untouched")
    }

    // round-11: video near-dup banding volume at 100k multi-frame
    // payloads (1M composite (video·4096+frame) signature rows through
    // the shared pigeonhole banding). 10k planted re-encodes (+40 bump
    // on every 8th 16-byte block) must ALL pair at minMatched=7;
    // SIMULATED in python first (the mm08 tuning rule): the bump lands
    // at hamming 0..1 per frame for all but 6 cores (1242, 4605, 5785,
    // 6139, 8144, 8496), each of which has exactly ONE frame at
    // hamming 4 > maxDistance — those six vote 9/10, so the full-10
    // count is exactly 9994, and every planted pair still clears the
    // vote threshold. Base signals carry a floordiv(core,251) term so
    // the byte formula's mod-251 period cannot alias distinct cores.
    {
      val nVid = 100000L
      val d = col("id")
      val core = when(d < nVid, d).otherwise(d - nVid)
      val bump = d >= nVid
      val payload = unhex(concat_ws("", transform(sequence(lit(0), lit(9)), f =>
        concat_ws("", transform(sequence(lit(0), lit(127)), i => {
          val v = least(lit(255),
            pmod((core * 10 + f + 3) * (i * i + i * 7) + core * lit(31) +
              call_function("div", core, lit(251L)) * (i * 13 + 7), lit(251)) +
              when(bump && pmod(shiftright(i, 4), lit(8)) === 0, 40).otherwise(0))
          lpad(hex(v), 2, "0")
        })))))
      val vids = spark.range(0L, nVid + 10000L)
        .select(d.as("doc_id"), payload.as("content"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      t("video fixture build 110k x 10-frame payloads (once)")(vids.count())
      // persist is LAZY: time the materializing count, not the marker
      // (the first cut timed .persist() itself and read 0.08 s)
      val pairs = graft.ops.Multimodal.videoNearDupPairs(vids, "doc_id",
          "content", frameBytes = 128, stride = 1, maxDistance = 3,
          minMatched = 7L, maxBucket = Int.MaxValue)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      t("videoNearDupPairs 110k videos (1.1M frame signatures)")(pairs.count())
      val planted = pairs.filter(col("id_b") === col("id_a") + nVid &&
        col("id_a") < 10000L)
      val stats = pairs.agg(count(lit(1)),
        sum(when(col("n_matched") === 10L, 1L).otherwise(0L))).head()
      val plantedStats = planted.agg(count(lit(1)),
        sum(when(col("n_matched") === 10L, 1L).otherwise(0L))).head()
      println(s"SCALE video: pairs=${stats.getLong(0)} " +
        s"full10=${stats.getLong(1)} planted=${plantedStats.getLong(0)} " +
        s"planted10=${plantedStats.getLong(1)}")
      assert(plantedStats.getLong(0) == 10000L,
        s"all 10k planted re-encodes must pair at >=7/10: ${plantedStats.getLong(0)}")
      assert(plantedStats.getLong(1) == 9994L,
        s"simulated full-10 planted count is exactly 9994: ${plantedStats.getLong(1)}")
      pairs.unpersist(); vids.unpersist()
    }

    // round-11: the PERSISTED JL candidate index serving path (s18's
    // machinery) at 6M vectors. Fixture lessons compounded here:
    //   - bucketBits MUST scale with the corpus (the first cut used
    //     the gate's 4 bits: 375k-row buckets × 10k queries × 5
    //     probes = 19 BILLION candidate pairs, whose window sort
    //     filled the disk and killed the job) — 12 bits at 6M is the
    //     phash-probe volume class;
    //   - the kernel-timing lattice fixture above (period-1000
    //     vectors) is DEGENERATE for bucketing (65 buckets of ~92k
    //     rows → billions of pairs again), and even random vectors
    //     skewed 160× under the pre-SRHT flat LCG signs — the
    //     xxhash64-mixed vectors here are the high-entropy case the
    //     SRHT projection keeps near-uniform (simulated: max bucket
    //     ~3× uniform at 12 bits);
    //   - copies are planted EXPLICITLY (ids 3M.. duplicate ids 0..3M)
    //     so the top-1 sentinel (cosine ≈ 1) cannot pass if pruning
    //     or candidate generation is broken.
    {
      val half = 3000000L
      val base = spark.range(0L, half).select(col("id"),
        transform(sequence(lit(0), lit(63)), d =>
          pmod(xxhash64(col("id"), d), lit(1000003L)).cast("double")
            / 500001.5 - 1.0).as("v"))
      val vecs2 = base.unionByName(
          base.select((col("id") + half).as("id"), col("v")))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      t("jl corpus build 6M x 64-dim hashed vectors (once)")(vecs2.count())
      val jlDir = graft.Paths.diskScratchDir("graft-scale-jl-")
      val jlPath = jlDir.resolve("idx").toString
      t("jl index write 6M x 64-dim (once)")(
        graft.ops.Similarity.writeJlIndex(vecs2, "id", "v", jlPath,
          dim = 64, outDim = 16, bucketBits = 12))
      val queries = vecs2.filter(col("id") < half && col("id") % 300 === 7)
        .limit(10000).localCheckpoint(true)
      val top1 = t("jl index probe 10k queries (k=3, cand=32)")(
        graft.ops.Similarity.jlTopKIndexed(spark, jlPath, queries, "id", "v",
            k = 3, candidates = 32)
          .filter(col("rank") === 1)
          .agg(count(lit(1)), min(col("cosine_sim"))).head())
      println(s"SCALE jl-index: top1=${top1.getLong(0)} " +
        f"minCos=${top1.getDouble(1)}%.6f")
      assert(top1.getLong(0) == 10000L, "every query must be served")
      assert(top1.getDouble(1) >= 0.999999,
        "top-1 must be the planted exact duplicate at id+3M")

      // round-12: the STREAMING embedding screen loop end-to-end at this
      // density (VERDICT r11 #7) — micro-batches probed vs the 6M index,
      // in-batch dominance, out-append, index-append across batches, then
      // compactJlIndex folds the appended segment files back to one per
      // bucket. Fixture hygiene per the r11 rules: novel directions come
      // from a DISJOINT xxhash seed range (d+1000), duplicates are planted
      // by construction (scaled copies — cosine 1.0), and every arm's
      // count is asserted exactly (no vacuous pass).
      {
        def corpusVec(key: org.apache.spark.sql.Column) =
          transform(sequence(lit(0), lit(63)), d =>
            pmod(xxhash64(key, d), lit(1000003L)).cast("double")
              / 500001.5 - 1.0)
        def novelVec(key: org.apache.spark.sql.Column, seed: Int) =
          transform(sequence(lit(0), lit(63)), d =>
            pmod(xxhash64(key, d + lit(seed)), lit(1000003L)).cast("double")
              / 500001.5 - 1.0)
        def scaleV(v: org.apache.spark.sql.Column, f: Double) =
          transform(v, x => x * lit(f))
        val scr = graft.Paths.diskScratchDir("graft-scale-embscr-")
        val outP = scr.resolve("out").toString
        // feed 1: 2.5k ×1.25 copies of indexed vectors (reject via index),
        // 2.5k novels (admit), 2.5k exact-duplicate mates of those novels
        // at HIGHER ids (reject via in-batch dominance). The copies leg
        // computes the vector FIRST and renames in a second select — a
        // corpusVec lambda in the same projection as the (id + 10M) alias
        // resolves against the NEW alias (the round-10 d14
        // lateral-column-alias trap; caught by review, empirically
        // probe-verified for HOF lambdas specifically). The ×2.0 grown-
        // copy leg below is the sentinel that CAUGHT the raw-projection
        // scale hole (1 of 2500 slipped: candidate L2 on raw projections
        // put the true match at |p| distance, mid-pack among bucket
        // mates) and now pins the srht2 normalized projection's scale
        // invariance. The mates stay scale-1.0 exact duplicates:
        // dominance is same-bucket with NO bit-flip tolerance, and even
        // under srht2 a rescale can nudge round(nv·1e6) by one ulp-step
        // on a near-boundary coordinate — exact bytes ⇒ exact same
        // projection ⇒ deterministic same bucket.
        val feed1 = spark.range(0L, 2500L)
          .select(col("id"), scaleV(corpusVec(col("id")), 1.25).as("v"))
          .select((col("id") + 10000000L).as("id"), col("v"))
          .unionByName(spark.range(11000000L, 11002500L)
            .select(col("id"), novelVec(col("id"), 1000).as("v")))
          .unionByName(spark.range(11100000L, 11102500L)
            .select(col("id"), novelVec(col("id") - 100000L, 1000).as("v")))
        // feed 2: 2.5k ×2.0 copies of feed-1's ADMITTED novels (reject —
        // the index must have absorbed them), 2.5k fresh novels (admit)
        val feed2 = spark.range(12000000L, 12002500L)
          .select(col("id"), scaleV(novelVec(col("id") - 1000000L, 1000), 2.0).as("v"))
          .unionByName(spark.range(13000000L, 13002500L)
            .select(col("id"), novelVec(col("id"), 2000).as("v")))
        val schema = org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("id",
            org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("v",
            org.apache.spark.sql.types.ArrayType(
              org.apache.spark.sql.types.DoubleType))))
        Seq((1, feed1), (2, feed2)).foreach { case (r, f) =>
          val p = scr.resolve(s"feed$r")
          f.coalesce(1).write.parquet(p.toString) // one file = one batch
          val q = graft.streaming.EventStreams.streamingEmbeddingScreen(
            spark.readStream.schema(schema).parquet(p.toString),
            "id", "v", jlPath, outP, scr.resolve(s"ck$r").toString,
            threshold = 0.95)
          try t(s"screen micro-batch $r (7.5k/5k rows vs 6M+ index)")(
            q.processAllAvailable())
          finally q.stop()
        }
        val out = spark.read.parquet(outP).select(col("id"))
        val st = out.agg(count(lit(1)),
          sum(when(col("id") >= 11000000L && col("id") < 11002500L, 1L)
            .otherwise(0L)),
          sum(when(col("id") >= 13000000L && col("id") < 13002500L, 1L)
            .otherwise(0L))).head()
        println(s"SCALE jl-screen: admitted=${st.getLong(0)} " +
          s"novel1=${st.getLong(1)} novel2=${st.getLong(2)}")
        assert(st.getLong(0) == 5000L && st.getLong(1) == 2500L &&
          st.getLong(2) == 2500L,
          "screen must admit exactly the 5k novels: copies reject vs the " +
            "index, same-direction mates reject via dominance, grown-index " +
            s"copies reject vs batch-1 absorptions (got ${st.getLong(0)}/" +
            s"${st.getLong(1)}/${st.getLong(2)})")
        // compaction: fold the per-batch appended segment files back to
        // one per bucket; the 10k-query sentinel must serve identically
        def dataFiles(): Long = {
          val s = java.nio.file.Files.walk(java.nio.file.Paths.get(jlPath))
          try s.filter(p => p.toString.endsWith(".parquet")).count()
          finally s.close()
        }
        val filesBefore = dataFiles()
        t("compactJlIndex 6M+5k rows / 4096 buckets")(
          graft.ops.Similarity.compactJlIndex(spark, jlPath))
        val filesAfter = dataFiles()
        println(s"SCALE jl-compact: files $filesBefore -> $filesAfter")
        assert(filesAfter < filesBefore, "compaction must fold segment files")
        val top1b = t("jl index probe 10k queries post-compact")(
          graft.ops.Similarity.jlTopKIndexed(spark, jlPath, queries, "id", "v",
              k = 3, candidates = 32)
            .filter(col("rank") === 1)
            .agg(count(lit(1)), min(col("cosine_sim"))).head())
        assert(top1b.getLong(0) == 10000L && top1b.getDouble(1) >= 0.999999,
          "post-compact serving must keep the planted-duplicate sentinel")
      }
      vecs2.unpersist()
    }

    fuzzyIndexBlock(spark)

    spark.stop()
  }

  /** round-12 continuation: the persisted fuzzy entity index (er02's
    * lifecycle) at density — self-contained, also runnable alone via
    * `runMain graft.ScaleProbe fuzzy` (iteration must not pay the full
    * probe's half-hour). 1M-entity catalog, depth-1 deletion variants
    * (~30 per name), a 12k mixed probe batch (10k typos + 2k
    * structurally-novel names), novel admission + re-probe, compaction.
    * Recall is the sentinel: every typo'd name MUST match its own
    * entity (the pigeonhole guarantee made measurable), every novel
    * must match nothing. */
  private def fuzzyIndexBlock(spark: SparkSession): Unit = {
    def t[A](label: String)(f: => A): A = { val t0 = System.nanoTime(); val r = f
      println(f"SCALE $label: ${(System.nanoTime() - t0) / 1e9}%.2f s"); r }
    println("== fuzzy entity index at density ==")
    val scr = java.nio.file.Files.createTempDirectory("scale-fuzzy")
    try {
      val adjs = Seq("amber", "burnished", "cobalt", "dusty", "ember",
        "frosted", "gilded", "hollow", "ivory", "jaded", "keen", "lunar",
        "matte", "nickel", "olive", "pale", "quartz", "rustic", "slate")
      val nouns = Seq("anchor", "bracket", "coupling", "dowel", "eyelet",
        "flange", "gasket", "hinge", "insert", "joint", "knob", "lever",
        "mount", "nozzle", "orifice", "piston", "quill", "rivet", "socket",
        "tappet", "union", "valve", "washer")
      val adjA = array(adjs.map(lit): _*)
      val nounA = array(nouns.map(lit): _*)
      def nameOf(id: org.apache.spark.sql.Column) = concat_ws(" ",
        element_at(adjA, (pmod(id, lit(19L)) + 1L).cast("int")),
        element_at(nounA, (pmod(floor(id / 19L).cast("long"), lit(23L)) + 1L).cast("int")),
        concat(lit("#"), id.cast("string")))
      // single mid-string deletion at a seeded position (the er-gate
      // typo shape); names are always >= 10 chars here
      def typoOf(n: org.apache.spark.sql.Column,
          seed: org.apache.spark.sql.Column) = {
        val pos = (lit(2L) + seed % (length(n).cast("long") - 2L)).cast("int")
        concat(n.substr(lit(1), pos - 1), n.substr(pos + 1, length(n)))
      }
      val catalog = spark.range(1000000L)
        .select(col("id"), nameOf(col("id")).as("name"))
      val path = scr.resolve("idx").toString
      t("fuzzy index write 1M entities depth 1")(
        graft.ops.FuzzyJoin.writeFuzzyIndex(
          catalog, "id", "name", depth = 1, path))
      println("SCALE fuzzy index rows: " + spark.read.parquet(path).count())
      // compute-then-rename in separate selects (the lateral-alias rule)
      val known = spark.range(10000L).select((col("id") * 97L).as("eid"))
        .select(col("eid"), nameOf(col("eid")).as("n"))
        .select((col("eid") + 20000000L).as("bid"),
          typoOf(col("n"), col("eid")).as("bname"))
      val novels = spark.range(2000L)
        .select((col("id") + 30000000L).as("bid"),
          concat(lit("zzqx entity "), col("id").cast("string")).as("bname"))
      val batch = known.unionByName(novels)
      val p1 = graft.ops.Lineage.cut(graft.ops.FuzzyJoin.probeFuzzyIndex(
        spark, path, batch, "bid", "bname", maxDist = 1))
      val st1 = t("fuzzy probe 12k batch vs 1M-entity index")(
        p1.agg(count(lit(1)),
          countDistinct(when(col("entity_id") === col("bid") - 20000000L,
            col("bid"))),
          // coalesce: an EMPTY probe result (the regression this block
          // exists to catch) leaves the global SUM null — the assert
          // must fire, not an NPE in the println (the r8 class)
          coalesce(sum(when(col("bid") >= 30000000L, 1L).otherwise(0L)),
            lit(0L))).head())
      println(s"SCALE fuzzy probe: pairs=${st1.getLong(0)} " +
        s"recall=${st1.getLong(1)}/10000 novelHits=${st1.getLong(2)}")
      assert(st1.getLong(1) == 10000L,
        "every typo'd name must match its own entity (pigeonhole recall)")
      assert(st1.getLong(2) == 0L, "novel names must match nothing")
      // admit the novels, re-probe their typos against the grown catalog
      graft.ops.FuzzyJoin.appendToFuzzyIndex(
        spark, path, novels, "bid", "bname")
      val batch2 = spark.range(2000L)
        .select(col("id"), concat(lit("zzqx entity "),
          col("id").cast("string")).as("n"))
        .select((col("id") + 40000000L).as("bid"),
          typoOf(col("n"), col("id")).as("bname"))
      val p2 = graft.ops.Lineage.cut(graft.ops.FuzzyJoin.probeFuzzyIndex(
        spark, path, batch2, "bid", "bname", maxDist = 1))
      val st2 = t("fuzzy re-probe 2k novel typos post-append")(
        p2.agg(countDistinct(when(
          col("entity_id") === col("bid") - 40000000L + 30000000L,
          col("bid")))).head())
      println(s"SCALE fuzzy re-probe: recall=${st2.getLong(0)}/2000")
      assert(st2.getLong(0) == 2000L,
        "admitted novels must be matchable by their own typos")
      def dataFiles(): Long = {
        val s = java.nio.file.Files.walk(java.nio.file.Paths.get(path))
        try s.filter(p => p.toString.endsWith(".parquet")).count()
        finally s.close()
      }
      val before = dataFiles()
      t("compactFuzzyIndex 1M+2k entities")(
        graft.ops.FuzzyJoin.compactFuzzyIndex(spark, path))
      println(s"SCALE fuzzy compact: files $before -> ${dataFiles()}")
      val st3 = t("fuzzy re-probe post-compact")(
        graft.ops.FuzzyJoin.probeFuzzyIndex(spark, path,
          batch2, "bid", "bname", maxDist = 1)
        .agg(countDistinct(when(
          col("entity_id") === col("bid") - 40000000L + 30000000L,
          col("bid")))).head())
      assert(st3.getLong(0) == 2000L,
        "compacted index must serve the identical recall")
    } finally Paths.rmTree(scr.toFile)
  }
}
