package graft.functions

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** NFC/NFKC kernel behavior + the d16 gate-fixture contract: the three
  * marker spellings are canonically equivalent and all normalize to the
  * precomposed marker's exact bytes (what DuckDB's nfc_normalize is
  * probed to produce too — Unicode normalization is stabilized). */
class UnicodeNormSpec extends SparkSpec {
  import spark.implicits._

  private def cp(i: Int): String = new String(Character.toChars(i))

  private def nfcOf(ss: String*): Seq[String] =
    ss.toDF("s").select(UnicodeNorm.nfc(col("s")).as("n")).as[String].collect().toSeq

  test("d16 fixture markers: all three spellings NFC-fold to the precomposed bytes") {
    import graft.queries.DedupGates.{nfcMarkerPre, nfcMarkerDecomposed, nfcMarkerSingleton}
    // the precomposed marker IS normal form — nfc is identity on it
    val Seq(p, d, s) = nfcOf(nfcMarkerPre, nfcMarkerDecomposed, nfcMarkerSingleton)
    assert(p === nfcMarkerPre)
    assert(d === nfcMarkerPre)
    assert(s === nfcMarkerPre)
    // and the raw spellings really are byte-different before the fold
    assert(Set(nfcMarkerPre, nfcMarkerDecomposed, nfcMarkerSingleton).size === 3)
  }

  test("nfc: composition, singleton mapping, canonical mark reordering, nulls") {
    // e + COMBINING ACUTE → é; ANGSTROM SIGN → Å; OHM SIGN → Ω
    assert(nfcOf("e" + cp(0x301)) === Seq(cp(0xE9)))
    assert(nfcOf(cp(0x212B)) === Seq(cp(0xC5)))
    assert(nfcOf(cp(0x2126)) === Seq(cp(0x3A9)))
    // dot-above (ccc 230) before dot-below (ccc 220) reorders: 220 first
    assert(nfcOf("q" + cp(0x307) + cp(0x323)) === Seq("q" + cp(0x323) + cp(0x307)))
    // ASCII passes through untouched; NULL propagates
    assert(nfcOf("plain ascii 123") === Seq("plain ascii 123"))
    val n = Seq[(java.lang.Long, String)]((1L, null)).toDF("id", "s")
      .select(UnicodeNorm.nfc(col("s"))).as[String].head()
    assert(n === null)
  }

  test("nfkc: compatibility foldings NFC leaves alone (spec-only surface)") {
    def nfkcOf(s: String): String =
      Seq(s).toDF("s").select(UnicodeNorm.nfkc(col("s"))).as[String].head()
    assert(nfkcOf(cp(0xFB01) + "le") === "file")        // fi ligature
    assert(nfkcOf(cp(0xFF46) + cp(0xFF55)) === "fu")    // full-width
    assert(nfkcOf("e" + cp(0x301)) === cp(0xE9))        // still composes
    // NFC must NOT fold compatibility characters — the difference that
    // keeps nfkc off the oracle surface (DuckDB only exposes NFC)
    assert(nfcOf(cp(0xFB01)) === Seq(cp(0xFB01)))
  }
}
