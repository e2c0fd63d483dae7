package graft

import java.nio.file.Files

import graft.queries.Gate

/** `Verify.run` returns the gates that failed, deletes a failed gate's
  * stale output from an earlier run, and still writes the gates that
  * ran. */
class VerifySpec extends SparkSpec {

  test("a gate that throws is returned and loses its stale output; the other gate is written") {
    val out = tmpDir("verify-seam")
    val stale = Files.createDirectories(out.resolve("x02_throws"))
    Files.writeString(stale.resolve("part-0.parquet"), "an earlier run's rows")
    val gates = Seq(
      Gate("x01_rows", None)((s, _) => s.range(3).toDF("id")),
      Gate("x02_throws", None)((_, _) => throw new IllegalStateException("stub failure")))
    val failed = Verify.run(spark, gates, "/nonexistent", out.toString, workers = 2)
    assert(failed == Seq("x02_throws"))
    assert(!Files.exists(stale))
    assert(spark.read.parquet(out.resolve("x01_rows").toString)
      .collect().map(_.getLong(0)).sorted.toSeq == Seq(0L, 1L, 2L))
  }
}
