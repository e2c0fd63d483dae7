package graft.streaming

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import graft.SparkSpec
import graft.ops.Sketch
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}

/** [[EventStreams.streamingBloomScreen]] screens a micro-batch on the
  * driver when the batch and the index fit there, and through Spark
  * plans otherwise. Each flow runs under the default bound, where its
  * small batches take the driver path, and again with the bound at -1,
  * which sends every batch down the Spark path. Both runs must write the
  * same out feed and leave an index that answers every probe the same. */
class BloomScreenPathSpec extends SparkSpec {
  import spark.implicits._

  private type Pairs = Seq[(String, String)]

  /** Seed pairs, index geometry, then stream runs of micro-batches, each
    * run with its own checkpoint; `outOk` states what the out feed must
    * hold. */
  private case class Flow(seed: Pairs, runs: Seq[Seq[Pairs]], outOk: Pairs => Boolean,
      numBits: Int = 8192, numHashes: Int = 4)

  private case class Screened(out: Pairs, probes: Seq[((String, String), Boolean)],
      shuffled: Boolean)

  private def sorted[A](xs: Seq[A]): Seq[A] = xs.sortBy(_.toString)

  /** A job of a streaming query, by micro-batch, and whether it ran a
    * shuffle map stage. */
  private case class StreamJob(batch: String, shuffled: Boolean)

  /** The jobs of the streaming queries that `body` starts; it adds their
    * ids to the set it is given. */
  private def streamJobs(body: mutable.Set[String] => Unit): Seq[StreamJob] = {
    val ids = mutable.Set.empty[String]
    val starts = new ConcurrentLinkedQueue[SparkListenerJobStart]()
    val shuffleStages = ConcurrentHashMap.newKeySet[Int]()
    listenDuring(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = starts.add(e)
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        if (e.taskType == "ShuffleMapTask") shuffleStages.add(e.stageId)
    })(body(ids))
    starts.asScala.toSeq.map(j => (Option(j.properties), j))
      .collect { case (Some(p), j) if ids(p.getProperty("sql.streaming.queryId")) =>
        StreamJob(p.getProperty("streaming.sql.batchId"),
          j.stageInfos.exists(s => shuffleStages.contains(s.stageId)))
      }
  }

  private def screen(flow: Flow): Screened = {
    val dir = tmpDir("bloom-path-")
    val idx = dir.resolve("idx").toString
    val outP = dir.resolve("out").toString
    Sketch.writeBloomIndex(flow.seed.toDF("key", "v"), "key", "v", idx,
      flow.numBits, flow.numHashes)
    val jobs = streamJobs { ids =>
      flow.runs.zipWithIndex.foreach { case (batches, r) =>
        // a parquet feed, as e15 streams: the batch then carries the
        // feed file's size as its estimate
        val feed = java.nio.file.Files.createDirectories(dir.resolve(s"feed$r")).toString
        val q = EventStreams.streamingBloomScreen(
          spark.readStream.schema("key STRING, v STRING").parquet(feed),
          "key", "v", idx, outP, dir.resolve(s"ck$r").toString)
        ids += q.id.toString
        try batches.foreach { b =>
          b.toDF("key", "v").coalesce(1).write.mode("append").parquet(feed)
          q.processAllAvailable()
        } finally q.stop()
      }
    }
    val asked = (flow.seed ++ flow.runs.flatten.flatten ++
      Seq(("k", "never-seen"), (null, "never-seen"))).distinct
    Screened(
      sorted(spark.read.parquet(outP).as[(String, String)].collect().toSeq),
      sorted(Sketch.probeBloomIndex(spark, idx, asked.toDF("key", "value"), "key", "value")
        .as[(String, String, Boolean)].collect().toSeq.map { case (k, v, m) => (k, v) -> m }),
      jobs.exists(_.shuffled))
  }

  private val seeds: Pairs = (0 until 10).map(i => ("k", s"seed$i"))

  // e15's shape: events split into thirds by id, the index seeded from
  // one third, then one stream run over each of the other two
  private val events = (0 until 300).map(i =>
    (i, Seq("click", "view", "buy", "share")(i % 4), s"${i % 23}@2024-01-0${i % 5 + 1}"))
  private def third(r: Int): Pairs = events.filter(_._1 % 3 == r).map(e => (e._2, e._3))

  private val fresh = (0 until 30).map(i => ("k", s"n$i"))

  private val flows: Seq[(String, Flow)] = Seq(
    "in-batch duplicates" -> Flow(seeds,
      Seq(Seq(Seq(("k", "a"), ("k", "a"), ("k", "b"), ("k", "a")), Seq(("k", "b")))),
      _ == Seq(("k", "a"), ("k", "b"))),
    "seeded value" -> Flow(seeds,
      Seq(Seq(Seq(("k", "seed3"), ("k", "c")), Seq(("k", "seed7")))),
      _ == Seq(("k", "c"))),
    "null value" -> Flow(seeds,
      Seq(Seq(Seq(("k", null), ("k", "d")), Seq(("k", null), ("k", "d")))),
      _ == Seq(("k", "d"))),
    "null key" -> Flow(seeds :+ ((null, "n0")),
      Seq(Seq(Seq((null, "n0"), (null, "n1"), ("k", "n1")), Seq((null, "n1")))),
      out => out.toSet == Set((null, "n1"), ("k", "n1")) && out.size == 2),
    // 40 seeds in 126 bits with 2 hashes set about half the bits, so
    // about a quarter of the new values probe maybe-present
    "false-positive drop" -> Flow((0 until 40).map(i => ("k", s"s$i")), Seq(Seq(fresh)),
      out => out.nonEmpty && out.size < fresh.size && out.toSet.subsetOf(fresh.toSet),
      numBits = 126, numHashes = 2),
    "e15 two-run cascade" -> Flow(third(0), Seq(Seq(third(1)), Seq(third(2))),
      out => out.nonEmpty && out.distinct == out,
      numBits = 512, numHashes = 3))

  flows.foreach { case (name, flow) =>
    test(s"$name: the driver and Spark paths write the same feed and index") {
      val onDriver = screen(flow)
      assert(flow.outOk(onDriver.out), onDriver.out)
      assert(!onDriver.shuffled, "the default bound must screen these batches on the driver")
      val onSpark = withConf("spark.sql.autoBroadcastJoinThreshold" -> "-1")(screen(flow))
      assert(onSpark.shuffled, "a -1 bound must screen through Spark plans")
      assert(onSpark.out == onDriver.out)
      assert(onSpark.probes == onDriver.probes)
    }
  }

  test("a small file-fed micro-batch launches no shuffle stage and at most 4 jobs") {
    val dir = tmpDir("bloom-jobs-")
    val idx = dir.resolve("idx").toString
    val feedP = dir.resolve("feed").toString
    Sketch.writeBloomIndex(third(0).toDF("key", "v"), "key", "v", idx,
      numBits = 65536, numHashes = 3)
    // two feed files, one micro-batch each, as e15 feeds its stream runs
    Seq(third(1), third(2)).foreach(_.toDF("key", "v").coalesce(1)
      .write.mode("append").parquet(feedP))
    // the index meta and row schema are memoised per JVM: warm them, as
    // a long-lived screen has them from its second batch on
    Sketch.readBloomRows(spark, idx)
    val jobs = streamJobs { ids =>
      val stream = spark.readStream.schema("key STRING, v STRING")
        .option("maxFilesPerTrigger", 1).parquet(feedP)
      val q = EventStreams.streamingBloomScreen(stream, "key", "v", idx,
        dir.resolve("out").toString, dir.resolve("ck").toString)
      ids += q.id.toString
      try q.processAllAvailable() finally q.stop()
    }
    val perBatch = jobs.groupBy(_.batch)
    assert(perBatch.size == 2, perBatch.keys)
    perBatch.foreach { case (batch, js) =>
      assert(js.size <= 4, s"batch $batch launched ${js.size} jobs")
      assert(!js.exists(_.shuffled), s"batch $batch launched a shuffle stage")
    }
  }
}
