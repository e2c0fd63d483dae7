package graft.queries

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

import graft.ops.{Audio, Dedup, Multimodal}

/** Multimodal gates (mm*): binary-column header decode, exact and
  * perceptual image dedup, the persisted phash index, audio PCM decode and
  * fingerprints, and video near-dup via aligned frame hashes. */
object MediaGates {
  import GateSupport._

  /** doc_id-derived synthetic PCM WAV payload (16-bit mono LE, a real
    * RIFF container the [[graft.functions.WavDecodeImpl]] kernel
    * parses): n = 400 + core % 97 samples,
    * s_i = ((core+3)·(i² + 7i) + core·31) % 1601 − 800, zeroed for
    * i < lead. The quadratic i² term decorrelates adjacent fingerprint
    * windows (a slow sawtooth made every window average monotone →
    * near-identical fingerprints for ALL cores, the e18 degenerate-
    * fixture trap — measured: 18k cross-core pairs; this form measures
    * min cross-core hamming 19, zero base pairs among 440). `dcOff` is
    * added to EVERY sample (a re-record bias — the fingerprint is
    * exactly invariant to it) and `bump` adds +120 on every 4th
    * 32-sample block (a hot re-record's clipping artifact; measured
    * hamming 0-3 against the original — inside maxDistance, never
    * free). Shared by mm07/mm08; [[duckWavSamples]] is the oracle
    * twin. */
  private def wavPayload(core: Column, rate: Column, lead: Column,
      dcOff: Column, bump: Column): Column = {
    def leHex(v: Column, nb: Int): Column =
      concat((0 until nb).map(k =>
        lpad(hex(shiftright(v, 8 * k).bitwiseAND(lit(255))), 2, "0")): _*)
    val n = lit(400) + pmod(core, lit(97))
    val samplesHex = concat_ws("", transform(sequence(lit(0), n - 1), i => {
      val sv = when(i < lead, lit(0))
        .otherwise(pmod((core + 3) * (i * i + i * 7) + core * lit(31),
          lit(1601)) - 800) +
        dcOff +
        when(bump && pmod(shiftright(i, 5), lit(4)) === 0, 120).otherwise(0)
      // two's-complement 16-bit little-endian
      leHex(pmod(sv, lit(65536)), 2)
    }))
    val dataSize = n * 2
    unhex(concat(
      lit("52494646"), leHex(dataSize + 36, 4), lit("57415645"), // RIFF/WAVE
      lit("666D7420" + "10000000" + "0100" + "0100"), // fmt , PCM, mono
      leHex(rate, 4), leHex(rate * 2, 4), lit("0200" + "1000"), // 16-bit
      lit("64617461"), leHex(dataSize, 4), samplesHex)) // data
  }

  val gates: Seq[Gate] = Seq(
    // ---- multimodal: binary payload + deterministic stub metadata
    Gate("mm01_media_meta", Some(
      """SELECT doc_id,
        |  CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
        |  CAST(octet_length(encode(text)) % 1280 + 16 AS INTEGER) AS fake_width,
        |  CAST((octet_length(encode(text)) * 7) % 720 + 16 AS INTEGER) AS fake_height
        |FROM documents ORDER BY doc_id""".stripMargin))((s, dir) => {
      val withPayload = Multimodal.withBinaryPayload(docs(s, dir))
      Multimodal.stubMetaColumns(withPayload)
        .select(col("doc_id"), col("n_bytes"), col("fake_width"), col("fake_height"))
        .orderBy(col("doc_id"))
    }),

    // ---- multimodal: exact dedup of BINARY payloads by content digest
    // (dedup images/audio by bytes — md5 works directly on Spark binary
    // columns, so the d01 digest-shuffle shape carries over unchanged;
    // payload text never enters the shuffle). Planted byte-identical
    // copies of doc_id < 25 must fold into their originals.
    Gate("mm03_media_dedup", Some(
      """WITH media AS (
        |  SELECT doc_id, encode(text) AS content FROM documents
        |  UNION ALL
        |  SELECT doc_id + 7000000 AS doc_id, encode(text) AS content
        |  FROM documents WHERE doc_id < 25
        |)
        |SELECT MIN(doc_id) AS canonical_id, COUNT(*) AS dup_count
        |FROM media GROUP BY content ORDER BY canonical_id""".stripMargin))((s, dir) => {
      val base = Multimodal.withBinaryPayload(docs(s, dir))
        .select(col("doc_id"), col("content"))
      val planted = base.filter(col("doc_id") < 25)
        .select((col("doc_id") + 7000000L).as("doc_id"), col("content"))
      Dedup.exactGroupsByHash(base.unionByName(planted), "content", "doc_id")
        .select(col("canonical_id"), col("dup_count"))
        .orderBy(col("canonical_id"))
    }),

    // ---- multimodal: frame sampling plumbing (row-per-frame explode)
    Gate("mm02_frame_sample", Some(
      """WITH b AS (SELECT doc_id, octet_length(encode(text)) AS nb FROM documents),
        |f AS (SELECT doc_id, nb, unnest(range(0, CAST(ceil(nb / 256.0) AS INT))) AS i FROM b)
        |SELECT doc_id, COUNT(*) AS n_frames,
        |  CAST(SUM(least(256, nb - i * 256)) AS BIGINT) AS sampled_bytes
        |FROM f WHERE i % 4 = 0
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin))((s, dir) => {
      val withPayload = Multimodal.withBinaryPayload(docs(s, dir))
      Multimodal.sampleFrames(withPayload)
        .groupBy(col("doc_id")).agg(count(lit(1)).as("n_frames"),
          sum(col("frame_bytes")).as("sampled_bytes"))
        .orderBy(col("doc_id"))
    }),

    // ---- multimodal: REAL header decode — payloads carry genuine PNG
    // IHDR / JPEG SOF0/SOF2 headers built from doc_id (dims are a pure
    // function of the id), the MediaHeaders kernel parses the BYTES
    // (marker walk for JPEG), and the oracle recomputes the planted
    // ground truth the construction encoded. Odd JPEG ids interpose a
    // COM segment so the gate exercises the real marker walk, not a
    // fixed offset; ids ≥ 60 are plain text → (unknown, -1, -1).
    // the planted headers encode dims as a pure function of doc_id, so
    // the oracle recomputes that ground truth; the Spark side must
    // recover it by PARSING the constructed bytes (PNG fixed offsets,
    // JPEG marker walk across the odd-id COM segment)
    Gate("mm04_media_decode", Some(
      """SELECT doc_id,
        |  CAST(CASE WHEN doc_id < 30 THEN 33
        |            WHEN doc_id < 60 THEN CASE WHEN doc_id % 2 = 0 THEN 41 ELSE 53 END
        |            ELSE length('textdoc:' || CAST(doc_id AS VARCHAR)) END AS BIGINT) AS n_bytes,
        |  CASE WHEN doc_id < 30 THEN 'png'
        |       WHEN doc_id < 60 THEN 'jpeg' ELSE 'unknown' END AS format,
        |  CAST(CASE WHEN doc_id < 30 THEN 640 + doc_id % 17
        |            WHEN doc_id < 60 THEN 1024 + doc_id % 13
        |            ELSE -1 END AS INTEGER) AS width,
        |  CAST(CASE WHEN doc_id < 30 THEN 360 + doc_id % 11
        |            WHEN doc_id < 60 THEN 768 + doc_id % 7
        |            ELSE -1 END AS INTEGER) AS height
        |FROM documents WHERE doc_id < 80 ORDER BY doc_id""".stripMargin))((s, dir) => {
      val d = col("doc_id")
      val pngHex = concat(lit("89504E470D0A1A0A" + "0000000D" + "49484452"),
        lpad(hex(lit(640) + d % 17), 8, "0"),
        lpad(hex(lit(360) + d % 11), 8, "0"),
        lit("0802000000" + "AABBCCDD"))
      val sofPayload = concat(lit("0011" + "08"),
        lpad(hex(lit(768) + d % 7), 4, "0"),
        lpad(hex(lit(1024) + d % 13), 4, "0"),
        lit("03" + "012200" + "021101" + "031101"))
      val app0 = "FFE00010" + "4A46494600" + "0101" + "00" + "00010001" + "0000"
      val jpegHex = concat(lit("FFD8" + app0),
        when(d % 2 === 1, lit("FFFE000A" + "6772616674206F6B")).otherwise(lit("")),
        when(d % 2 === 1, lit("FFC2")).otherwise(lit("FFC0")),
        sofPayload, lit("FFD9"))
      val payload = when(d < 30, unhex(pngHex))
        .when(d < 60, unhex(jpegHex))
        .otherwise(encode(concat(lit("textdoc:"), d.cast("string")), "UTF-8"))
      Multimodal.mediaMetaColumns(
          docs(s, dir).select(d).filter(d < 80).withColumn("content", payload))
        .select(col("doc_id"), col("n_bytes"), col("format"),
          col("width"), col("height"))
        .orderBy(col("doc_id"))
    }),

    // ---- multimodal: PERCEPTUAL near-dup — the exact-dedup gap
    // closed: payloads are deterministic doc_id-derived byte signals
    // (a sawtooth "image"; ids ≥ 400 carry RE-ENCODED copies of ids
    // 0..39 — a +40 brightness bump on every 8th 16-byte block, the
    // blocking artifact a lossy re-encode leaves) hashed by the dHash
    // kernel (box-downsample → 63 adjacent-cell comparison bits), then
    // paired through the SAME pigeonhole band machinery as SimHash:
    // maxDistance 3 → 4 chunks, any ≤3-bit pair shares an exact chunk
    // (no-miss contract). Copies land at hamming 0-2, so exact dedup
    // (mm03) would keep every one of them. Oracle replays the byte
    // construction, the cell/bit arithmetic (all non-negative integer
    // ops — // ≡ Scala /), the banding and the verify filter.
    // perceptual near-dup replay: byte signal → 64 box cells → 63
    // comparison bits → BIGINT hash (bits ≤ 62: DuckDB << is
    // overflow-checked at 63) → 16-bit pigeonhole bands → bucket-size
    // guard → hamming verify — every step exact non-negative integer
    // arithmetic shared with the kernel
    Gate("mm05_media_neardup", Some(
      (s"""WITH img AS (
         |  SELECT doc_id,
         |    CASE WHEN doc_id < 400 THEN doc_id ELSE doc_id - 400 END AS core,
         |    doc_id >= 400 AS pert
         |  FROM documents WHERE doc_id < 440
         |), b AS (
         |  SELECT doc_id,
         |    CASE WHEN pert THEN ${duckSawBytes("core", 7, bump = true)}
         |         ELSE ${duckSawBytes("core", 7, bump = false)} END AS bytes
         |  FROM img
         |),
         |""".stripMargin + duckPhash("b", "p") + ",\n" +
        """band AS (
          |  SELECT doc_id, c, (ph >> CAST(16*c AS BIGINT)) & 65535 AS cv
          |  FROM hp, range(0,4) r(c)
          |), bsz AS (
          |  SELECT c, cv, count(*) AS bn FROM band GROUP BY c, cv
          |), okband AS (
          |  SELECT band.doc_id, band.c, band.cv
          |  FROM band JOIN bsz USING (c, cv) WHERE bn BETWEEN 2 AND 1000
          |), cand AS (
          |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
          |  FROM okband a JOIN okband b USING (c, cv)
          |  WHERE a.doc_id < b.doc_id
          |)
          |SELECT id_a, id_b, CAST(bit_count(xor(ha.ph, hb.ph)) AS INTEGER) AS hamming
          |FROM cand JOIN hp ha ON ha.doc_id = cand.id_a JOIN hp hb ON hb.doc_id = cand.id_b
          |WHERE bit_count(xor(ha.ph, hb.ph)) <= 3
          |ORDER BY id_a, id_b""".stripMargin)))((s, dir) => {
      val d = col("doc_id")
      val payload = sawtoothPayload(when(d < 400, d).otherwise(d - 400), 7,
        bump = d >= 400)
      val hashed = docs(s, dir).select(d).filter(d < 440)
        .select(d, graft.functions.PerceptualHash.dhash(payload).as("phash"))
      Dedup.simhashPairs(hashed, "doc_id", "phash", maxDistance = 3)
        .orderBy(col("id_a"), col("id_b"))
    }),

    // ---- multimodal: PERSISTED perceptual-hash index — the digest
    // index (d12) extended from exact to perceptual membership: the
    // original corpus is hashed once into narrow (id, ph) rows, then a
    // probe batch of RE-ENCODED copies (blocking-artifact bumps of
    // ids 0..39) and genuinely NOVEL media (a different sawtooth
    // slope — min distance ≥ 13 to every indexed item) joins 16-byte
    // signatures: every copy surfaces with its hamming distance,
    // no novel item does, and the media bytes are never re-read.
    // Oracle: batch × index hamming ≤ max_distance directly — the
    // pigeonhole banding is EXHAUSTIVE at ≤ maxDistance (any such
    // pair shares a chunk) and all buckets sit far under the skew
    // cap here, so the band join ≡ the distance predicate
    // phash-index probe replay: batch x index hamming <= max_distance
    // directly -- the pigeonhole banding is exhaustive at <= maxDistance
    // and every bucket sits far under the skew cap in this corpus, so
    // the band join is equivalent to the distance predicate
    Gate("mm06_media_index", Some(
      (s"""WITH bi AS (
         |  SELECT doc_id, ${duckSawBytes("doc_id", 7, bump = false)} AS bytes
         |  FROM documents WHERE doc_id < 300
         |), bb AS (
         |  SELECT doc_id, ${duckSawBytes("doc_id - 300", 7, bump = true)} AS bytes
         |  FROM documents WHERE doc_id >= 300 AND doc_id < 340
         |  UNION ALL
         |  SELECT doc_id, ${duckSawBytes("doc_id", 11, bump = false)} AS bytes
         |  FROM documents WHERE doc_id >= 400 AND doc_id < 440
         |),
         |""".stripMargin + duckPhash("bi", "i") + ",\n" + duckPhash("bb", "b") + "\n" +
        """SELECT b.doc_id AS batch_id, i.doc_id AS index_id,
          |  CAST(bit_count(xor(b.ph, i.ph)) AS INTEGER) AS hamming
          |FROM hb b JOIN hi i ON bit_count(xor(b.ph, i.ph)) <= 3
          |ORDER BY batch_id, index_id""".stripMargin)))((s, dir) => {
      val d = col("doc_id")
      val path = graft.Paths.scratchDir("graft-phash-idx").resolve("idx").toString
      val ids = docs(s, dir).select(d)
      // write → append → compact: the oracle replays only the LOGICAL
      // index (all id < 300 signatures), so this cross-checks that the
      // append and the segment-folding compaction are answer-invariant
      Dedup.writePhashIndex(
        ids.filter(d < 200)
          .select(d, sawtoothPayload(d, 7, lit(false)).as("content")),
        "doc_id", "content", path)
      Dedup.appendToPhashIndex(
        ids.filter(d >= 200 && d < 300)
          .select(d, sawtoothPayload(d, 7, lit(false)).as("content")),
        "doc_id", "content", path)
      Dedup.compactPhashIndex(s, path)
      // the documents table holds 500 rows at the sf0.01 gate scale --
      // every fixture range must sit inside doc_id < 500
      val batch = ids.filter(d >= 300 && d < 340)
        .select(d, sawtoothPayload(d - 300, 7, lit(true)).as("content"))
        .unionByName(ids.filter(d >= 400 && d < 440)
          .select(d, sawtoothPayload(d, 11, lit(false)).as("content")))
      Dedup.probePhashIndex(s, path, batch, "doc_id", "content")
        .orderBy(col("batch_id"), col("index_id"))
    }),

    // ---- multimodal: VIDEO near-dup via aligned frame-hash voting —
    // payloads are 10-frame 128-byte "videos" (per-frame quadratic
    // byte signals); ids ≥ 400 carry RE-ENCODED copies of ids 0..39
    // (per-frame +40 blocking bump on every 8th 16-byte block, clamped
    // at 255 — the lpad(hex) truncation trap — measured hamming 0-1
    // per frame) and ids ≥ 420 additionally REPLACE frames 2/5/8 with
    // frames keyed fcore + 500 — ≥ 22 bits from the SAME video's
    // frames, but NOTE: 500 ≡ 249 (mod 251), so a replaced frame is
    // byte-identical (pre-bump) to base core fcore-2's frame at those
    // positions. Edited copies therefore generate 3/10 aligned partial
    // matches against that UNRELATED base video; it is minMatched = 7
    // (not frame distance) that suppresses the cross pairs — lower
    // minMatched past 3 and they surface. Pure copies match 10/10
    // aligned frames, edited ones 7/10 — both survive minMatched = 7
    // with distinguishable counts. Base vids
    // stay under 251: the byte formula is mod-251, so cores c and
    // c+251 produce IDENTICAL videos (caught live — 189 organic exact
    // pairs before the range cut). Oracle replays per-frame bytes from
    // the formula (no slicing), the shared duckPhash chain keyed on
    // the composite (video, frame) id, and the plain aligned-distance
    // predicate.
    // video near-dup replay: per-frame byte lists straight from the
    // formula (the payload is just their concatenation, so no slicing
    // replay is needed), the shared duckPhash chain over composite
    // (video*4096 + frame) ids, then the plain ALIGNED distance
    // predicate (banding exhaustive at <= maxDistance; the gate passes
    // maxBucket unlimited so band-join == predicate, the d14 argument)
    // and a per-video-pair vote
    Gate("mm09_video_neardup", Some(
      (s"""WITH vids AS (
         |  SELECT doc_id,
         |    CASE WHEN doc_id < 400 THEN doc_id ELSE doc_id - 400 END AS core,
         |    doc_id >= 400 AS bp, doc_id >= 420 AS rp
         |  FROM documents WHERE doc_id < 240 OR (doc_id >= 400 AND doc_id < 440)
         |), fr AS (
         |  SELECT doc_id,
         |    CASE WHEN rp AND f IN (2, 5, 8) THEN core + 500 ELSE core END AS fc,
         |    bp, f
         |  FROM vids, range(0, 10) r(f)
         |), b AS (
         |  SELECT doc_id * 4096 + f AS doc_id,
         |    [ least(255, ((fc*10 + f + 3)*(i*i + i*7) + fc*31) % 251
         |        + CASE WHEN bp AND (i>>4)%8 = 0 THEN 40 ELSE 0 END)
         |      for i in range(0, 128) ] AS bytes
         |  FROM fr
         |),
         |""".stripMargin + duckPhash("b", "v") + "\n" +
        """SELECT a.doc_id // 4096 AS id_a, c.doc_id // 4096 AS id_b,
          |  count(*) AS n_matched
          |FROM hv a JOIN hv c
          |  ON a.doc_id % 4096 = c.doc_id % 4096
          | AND a.doc_id // 4096 < c.doc_id // 4096
          | AND bit_count(xor(a.ph, c.ph)) <= 3
          |GROUP BY 1, 2 HAVING count(*) >= 7
          |ORDER BY id_a, id_b""".stripMargin)))((s, dir) => {
      val d = col("doc_id")
      val core = when(d < 400, d).otherwise(d - 400)
      val bump = d >= 400
      val repl = d >= 420
      val payload = unhex(concat_ws("", transform(sequence(lit(0), lit(9)), f => {
        val fc = when(repl && (f === 2 || f === 5 || f === 8), core + 500)
          .otherwise(core)
        concat_ws("", transform(sequence(lit(0), lit(127)), i => {
          val v = least(lit(255),
            pmod((fc * 10 + f + 3) * (i * i + i * 7) + fc * lit(31), lit(251)) +
              when(bump && pmod(shiftright(i, 4), lit(8)) === 0, 40).otherwise(0))
          lpad(hex(v), 2, "0")
        }))
      })))
      val vids = docs(s, dir).select(d).filter(d < 240 || (d >= 400 && d < 440))
        .withColumn("content", payload)
      Multimodal.videoNearDupPairs(vids, "doc_id", "content",
          frameBytes = 128, stride = 1, maxDistance = 3, minMatched = 7L,
          maxBucket = Int.MaxValue)
        .orderBy(col("id_a"), col("id_b"))
    }),

    // ---- multimodal: AUDIO decode + features — payloads are real PCM
    // WAV containers built from doc_id-derived 16-bit samples (rate,
    // leading-silence run and waveform all doc_id functions), decoded
    // by the zero-dep RIFF/PCM kernel into typed metadata + loudness /
    // silence features. The oracle never parses bytes: it replays the
    // sample formula and the exact-integer feature arithmetic directly
    // (the mm04 ground-truth-by-construction pattern), so a decode that
    // read the header or samples wrong hash-mismatches immediately.
    // audio decode + features replay: the WAV container is never
    // parsed — samples come straight from the doc_id formula (the
    // mm04 ground-truth pattern) and every feature is exact integer
    // arithmetic (// on non-negative operands ≡ the kernel's floor
    // division); silence threshold 0, so silent ⇔ s = 0
    Gate("mm07_audio_stats", Some(
      (s"""WITH base AS (
         |  SELECT doc_id, 8000 + (doc_id % 4) * 2000 AS rate
         |  FROM documents WHERE doc_id < 80
         |), smp AS (
         |  SELECT doc_id, rate,
         |    ${duckWavSamples("doc_id", "(doc_id % 3) * 32", "0", bump = false)} AS s
         |  FROM base
         |), feat AS (
         |  SELECT doc_id, rate, len(s) AS n,
         |    list_sum([abs(x) for x in s]) AS sum_abs,
         |    list_max([abs(x) for x in s]) AS peak,
         |    coalesce(list_min(list_filter(range(0, len(s)),
         |      i -> s[i+1] != 0)), len(s)) AS lead_sil,
         |    list_max(list_filter(range(0, len(s)), i -> s[i+1] != 0)) AS last_ns
         |  FROM smp
         |)
         |SELECT doc_id, CAST(rate AS BIGINT) AS sample_rate,
         |  CAST(1 AS BIGINT) AS channels, CAST(16 AS BIGINT) AS bits,
         |  CAST(n AS BIGINT) AS n_samples,
         |  CAST(n * 1000 // rate AS BIGINT) AS duration_ms,
         |  CAST(sum_abs // n AS BIGINT) AS mean_abs,
         |  CAST(peak AS BIGINT) AS peak_abs,
         |  CAST(lead_sil AS BIGINT) AS lead_silence,
         |  CAST(CASE WHEN last_ns IS NULL THEN 0 ELSE n - 1 - last_ns END
         |    AS BIGINT) AS trail_silence
         |FROM feat ORDER BY doc_id""".stripMargin)))((s, dir) => {
      val d = col("doc_id")
      val rate = lit(8000) + pmod(d, lit(4)) * 2000
      val frame = docs(s, dir).select(d).filter(d < 80)
        .withColumn("content",
          wavPayload(d, rate, pmod(d, lit(3)) * 32, lit(0), lit(false)))
      Audio.audioStatColumns(frame)
        .select(col("doc_id"), col("sample_rate"), col("channels"),
          col("bits"), col("n_samples"), col("duration_ms"), col("mean_abs"),
          col("peak_abs"), col("lead_silence"), col("trail_silence"))
        .orderBy(col("doc_id"))
    }),

    // ---- multimodal: AUDIO perceptual near-dup — the mm05 story in
    // the sample domain: ids ≥ 400 carry RE-RECORDED copies of ids
    // 0..39 (+25 DC offset everywhere — the fingerprint is EXACTLY
    // invariant to it, floor-division windows shift uniformly — and
    // ids ≥ 420 add a +120 bump on every 4th 32-sample block, the
    // clipping artifact of a hot re-record: measured hamming 0-3,
    // so every copy pairs and the nonzero-distance arm is exercised
    // while distinct waveforms sit ≥ 16 bits apart). Fingerprints ride the
    // SAME pigeonhole banding as images. Oracle replays biased
    // samples → truncating-div windows → comparison bits via the
    // shared duckPhash chain (bias makes sums non-negative, where
    // DuckDB's truncating `//` ≡ the kernel arithmetic) and pairs
    // with the plain distance predicate — the banding is exhaustive
    // at ≤ maxDistance and 440 items can never exceed the 1000
    // bucket cap.
    // audio perceptual near-dup replay: sample lists BIASED by +32768
    // (the kernel's trick: biased window sums are non-negative, where
    // DuckDB's truncating `//` ≡ floor division — probe-verified that
    // `//` truncates on negatives, so signed sums would NOT replay)
    // through the SHARED duckPhash window/bit chain, then the plain
    // distance predicate (banding exhaustive at ≤ maxDistance; 440
    // items can never exceed the 1000 bucket cap)
    Gate("mm08_audio_neardup", Some(
      (s"""WITH au AS (
         |  SELECT doc_id,
         |    CASE WHEN doc_id < 400 THEN doc_id ELSE doc_id - 400 END AS core,
         |    doc_id >= 400 AS cp, doc_id >= 420 AS bp
         |  FROM documents WHERE doc_id < 440
         |), b AS (
         |  SELECT doc_id, [x + 32768 for x in
         |    CASE WHEN bp THEN ${duckWavSamples("core", "0", "25", bump = true)}
         |         WHEN cp THEN ${duckWavSamples("core", "0", "25", bump = false)}
         |         ELSE ${duckWavSamples("core", "0", "0", bump = false)} END] AS bytes
         |  FROM au
         |),
         |""".stripMargin + duckPhash("b", "a") + "\n" +
        """SELECT x.doc_id AS id_a, y.doc_id AS id_b,
          |  CAST(bit_count(xor(x.ph, y.ph)) AS INTEGER) AS hamming
          |FROM ha x JOIN ha y ON x.doc_id < y.doc_id
          |WHERE bit_count(xor(x.ph, y.ph)) <= 3
          |ORDER BY id_a, id_b""".stripMargin)))((s, dir) => {
      val d = col("doc_id")
      val core = when(d < 400, d).otherwise(d - 400)
      val frame = docs(s, dir).select(d).filter(d < 440)
        .withColumn("content", wavPayload(core, lit(8000), lit(0),
          when(d >= 400, 25).otherwise(0), d >= 420))
      Audio.audioNearDupPairs(frame, "doc_id")
        .orderBy(col("id_a"), col("id_b"))
    })
  )
}
