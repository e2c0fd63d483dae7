package graft.streaming

import java.util.concurrent.atomic.AtomicBoolean

import graft.SparkSpec
import graft.ops.Sketch
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryException

/** Fault injection for the screens' out-before-index write ordering
  * ([[EventStreams.admit]]): a crash between the feed write and the index
  * append must replay the batch as duplicates, never lose it. */
class AdmitOrderingSpec extends SparkSpec {
  import spark.implicits._

  /** Runs a Bloom screen whose body takes its admissions and absorb from
    * `admission(batch, indexPath)`, with the absorb wrapped to throw once
    * before it appends; restarts from the same checkpoint and checks the
    * replay. */
  private def crashBetweenWrites(
      admission: (DataFrame, String) => EventStreams.BloomAdmission): Unit = {
    val dir = tmpDir("admit-fault-")
    val idx = dir.resolve("idx").toString
    val outP = dir.resolve("out").toString
    val feedP = dir.resolve("feed").toString
    val ck = dir.resolve("ck").toString
    Sketch.writeBloomIndex(Seq(("k", "seed1"), ("k", "seed2")).toDF("key", "value"),
      "key", "value", idx, numBits = 4096, numHashes = 3)
    val feed = Seq(("k", "seed1"), ("k", "a"), ("k", "b"), ("k", "c"), ("k", "seed2"))
      .toDF("key", "value")
    feed.coalesce(1).write.parquet(feedP)

    def probe(rows: Seq[(String, String)]): Seq[Boolean] =
      Sketch.probeBloomIndex(spark, idx, rows.toDF("key", "value"), "key", "value")
        .select(col("may_contain")).as[Boolean].collect().toSeq
    def out: Seq[(String, String)] =
      spark.read.parquet(outP).select(col("key"), col("value"))
        .as[(String, String)].collect().toSeq.sorted
    val admitted = Seq(("k", "a"), ("k", "b"), ("k", "c"))
    assert(probe(admitted).forall(!_), "the seeded index must report the new pairs absent")

    // the real Bloom absorb, wrapped to throw once before it appends
    val crashed = new AtomicBoolean(false)
    def run(): Unit = {
      val stream = spark.readStream.schema(feed.schema).parquet(feedP)
      val q = EventStreams.screen(stream, ck) { (batch, _) =>
        val (fresh, absorb) = admission(batch, idx)
        EventStreams.admit(fresh, outP) { rows =>
          if (crashed.compareAndSet(false, true))
            throw new IllegalStateException("injected crash before the index append")
          absorb(rows)
        }
      }
      try q.processAllAvailable() finally q.stop()
    }

    val e = intercept[StreamingQueryException](run())
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(t => Option(t.getMessage).exists(_.contains("injected crash"))), e)
    // the crash window was hit: the batch reached the feed, not the index
    assert(out == admitted)
    assert(probe(admitted).forall(!_))

    // restart from the same checkpoint: the uncommitted batch replays
    run()
    val after = out
    assert(after.distinct == admitted, "every admitted row is in the feed, nothing else")
    assert(after == admitted.flatMap(r => Seq(r, r)),
      "the only extra rows are one duplicate of each replayed row")
    assert(probe(admitted).forall(identity), "the index holds the batch after the replay")
  }

  test("a crash between the out write and the index append replays the batch as duplicates, never loss") {
    crashBetweenWrites { (batch, idx) =>
      (Sketch.probeBloomIndex(batch.sparkSession, idx, batch, "key", "value")
          .filter(!col("may_contain")).select(col("key"), col("value")),
        Sketch.appendToBloomIndex(_, "key", "value", idx))
    }
  }

  test("a crash before the driver-path absorb replays the batch as duplicates, never loss") {
    crashBetweenWrites { (batch, idx) =>
      EventStreams.bloomScreenOnDriver(batch, "key", "value", idx)
        .getOrElse(throw new IllegalStateException("the feed batch did not take the driver path"))
    }
  }
}
