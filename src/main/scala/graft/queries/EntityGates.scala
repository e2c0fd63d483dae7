package graft.queries

import org.apache.spark.sql.functions._

import graft.ops.{Dedup, FuzzyJoin}

/** Entity-resolution gates (er*): fuzzy join, persisted fuzzy index and
  * entity canonicalisation over typo'd part names. */
object EntityGates {
  import GateSupport._

  val gates: Seq[Gate] = Seq(
    // ---- entity resolution: BLOCKED FUZZY JOIN — dirty part names (one
    // deterministic mid-string character deletion each) matched back to
    // the clean name table via the symmetric-delete neighborhood join:
    // candidates come from an equi-join on xxhash64'd ≤1-deletion
    // variants (exhaustive at Levenshtein ≤ 1 by the SymSpell
    // pigeonhole), then exact Levenshtein verification. The oracle runs
    // the PLAIN all-pairs distance predicate — blocking completeness is
    // exactly what the hash-match proves (the mm06 oracle pattern).
    // plain all-pairs Levenshtein predicate — the deletion-neighborhood
    // blocking is EXHAUSTIVE at distance <= 1 (SymSpell pigeonhole), so
    // the blocked Spark join must reproduce the unblocked answer (the
    // mm06 exhaustive-banding oracle pattern). 64 distinct names: the
    // quadratic oracle is trivial at gate scale.
    Gate("er01_fuzzy_join", Some(
      s"""WITH clean AS (
        |  $duckCleanSel
        |), dirty AS (
        |  SELECT clean_id + 100000 AS dirty_id,
        |    ${duckTypoExpr("name", "clean_id")} AS dname
        |  FROM clean
        |)
        |SELECT d.dirty_id, d.dname, c.clean_id, c.name,
        |  CAST(levenshtein(d.dname, c.name) AS INTEGER) AS dist
        |FROM dirty d, clean c
        |WHERE levenshtein(d.dname, c.name) <= 1
        |ORDER BY dirty_id, clean_id""".stripMargin))((s, dir) => {
      val clean = cleanPartNames(s, dir)
      val dirty = clean.select(
        (col("clean_id") + 100000L).as("dirty_id"),
        typoName(col("name"), col("clean_id")).as("dname"))
      FuzzyJoin.fuzzyJoin(dirty, clean,
          "dirty_id", "dname", "clean_id", "name", maxDist = 1)
        .orderBy(col("dirty_id"), col("clean_id"))
    }),

    // ---- entity resolution: PERSISTED DELETION-VARIANT INDEX — the
    // continuous-matching lifecycle: the catalog's variants persist
    // once (depth pinned in _meta; deeper probes raise typed), probe 1
    // matches a typo'd batch + genuinely novel entities, the unmatched
    // remainder is ADMITTED and appended, probe 2's typos of those
    // novels then match the grown catalog. Oracle replays both probes
    // as plain all-pairs predicates over the evolving entity set (the
    // blocking-completeness argument of er01, now through the index).
    // probe 1 = all-pairs vs the original catalog; the admitted set is
    // b1 minus p1's matched bids; probe 2 = all-pairs vs catalog ∪
    // admitted — the evolving-entity-set replay of the index lifecycle
    Gate("er02_fuzzy_index", Some(
      s"""WITH clean AS (
        |  $duckCleanSel
        |), dirty1 AS (
        |  SELECT clean_id + 100000 AS bid,
        |    ${duckTypoExpr("name", "clean_id")} AS bname
        |  FROM clean WHERE clean_id % 2 = 0
        |), novel AS (
        |  SELECT 200000 + i AS bid,
        |    'zzqx-' || CAST(i AS VARCHAR) || '-novelentity' AS bname
        |  FROM range(0, 8) r(i)
        |), b1 AS (
        |  SELECT * FROM dirty1 UNION ALL SELECT * FROM novel
        |), p1 AS (
        |  SELECT CAST(1 AS INTEGER) AS probe, b.bid, b.bname,
        |    c.clean_id AS entity_id, c.name AS entity_name,
        |    CAST(levenshtein(b.bname, c.name) AS INTEGER) AS dist
        |  FROM b1 b, clean c WHERE levenshtein(b.bname, c.name) <= 1
        |), ents2 AS (
        |  SELECT clean_id AS id, name FROM clean
        |  UNION ALL
        |  SELECT b.bid AS id, b.bname AS name FROM b1 b
        |  WHERE NOT EXISTS (SELECT 1 FROM p1 p WHERE p.bid = b.bid)
        |), b2 AS (
        |  SELECT 300000 + i AS bid,
        |    ${duckTypoExpr("n", "i")} AS bname
        |  FROM (SELECT i, 'zzqx-' || CAST(i AS VARCHAR) || '-novelentity' AS n
        |        FROM range(0, 8) r(i))
        |), p2 AS (
        |  SELECT CAST(2 AS INTEGER) AS probe, b.bid, b.bname,
        |    e.id AS entity_id, e.name AS entity_name,
        |    CAST(levenshtein(b.bname, e.name) AS INTEGER) AS dist
        |  FROM b2 b, ents2 e WHERE levenshtein(b.bname, e.name) <= 1
        |)
        |SELECT * FROM p1 UNION ALL SELECT * FROM p2
        |ORDER BY probe, bid, entity_id""".stripMargin))((s, dir) => withShufflePartitions(s, 4) {
      // tiny-data lifecycle (catalog = 64 names): scoped partitions and
      // an eager cache on p1 (it feeds the admit anti-join AND the
      // output union) keep the gate overhead-, not data-, bound
      val clean = cleanPartNames(s, dir)
      val path = graft.Paths.scratchDir("graft-fuzzy-idx")
        .resolve("idx").toString
      FuzzyJoin.writeFuzzyIndex(clean, "clean_id", "name", depth = 1, path)
      val dirty1 = clean.filter(col("clean_id") % 2 === 0).select(
        (col("clean_id") + 100000L).as("bid"),
        typoName(col("name"), col("clean_id")).as("bname"))
      val novelName = concat(lit("zzqx-"), col("id").cast("string"),
        lit("-novelentity"))
      val novel = s.range(8).select(
        (col("id") + 200000L).as("bid"), novelName.as("bname"))
      val batch1 = dirty1.unionByName(novel)
      // MATERIALIZE p1 before the append: a parquet append to a path
      // auto-recaches/re-executes plans reading that path (caught live:
      // a cached p1 re-materialized POST-append and matched the novels
      // against themselves) — lineage cut is the only append-proof pin
      val p1 = graft.ops.Lineage.cut(
        FuzzyJoin.probeFuzzyIndex(s, path, batch1, "bid", "bname",
          maxDist = 1))
      val unmatched = batch1.join(
        p1.select("bid").distinct(), Seq("bid"), "left_anti")
      FuzzyJoin.appendToFuzzyIndex(s, path, unmatched, "bid", "bname")
      val batch2 = s.range(8).select((col("id") + 300000L).as("bid"),
        typoName(novelName, col("id")).as("bname"))
      val p2 = FuzzyJoin.probeFuzzyIndex(s, path, batch2, "bid", "bname",
        maxDist = 1)
      // cut INSIDE the scope: the returned frame executes later (Verify's
      // write), after the finally restores the session partition count —
      // materializing here is what makes the partitions=4 scoping real
      graft.ops.Lineage.cut(
        p1.withColumn("probe", lit(1))
          .unionByName(p2.withColumn("probe", lit(2)))
          .orderBy(col("probe"), col("bid"), col("entity_id")))
    }),

    // ---- entity resolution: CANONICALIZATION — the step after matching:
    // pool = catalog + two planted variant families (A on even ids, B on
    // ids % 3 == 0, different typo seeds), fuzzy pairs at distance 1,
    // TRANSITIVE closure (variants A and B of one entity sit at distance
    // 2 from each other — only closure, not pairwise dominance, unions
    // them), canonical = component min id, singletons canonical to
    // themselves. Oracle: all-pairs predicate + the shared duckClosure
    // recursive-CTE fragment (the d04/p04/p18 closure, reused verbatim).
    // pool + all-pairs distance-1 predicate named `pairsj` so the shared
    // duckClosure fragment (the d04/p04/p18 transitive closure) replays
    // the componentization verbatim; canonical = least(id, min(reach))
    Gate("er03_entity_canonical", Some(
      (s"WITH RECURSIVE clean AS (\n  $duckCleanSel\n" +
        s"""), pool AS (
          |  SELECT clean_id AS id, name FROM clean
          |  UNION ALL
          |  SELECT clean_id + 100000 AS id,
          |    ${duckTypoExpr("name", "clean_id")} AS name
          |  FROM clean WHERE clean_id % 2 = 0
          |  UNION ALL
          |  SELECT clean_id + 500000 AS id,
          |    ${duckTypoExpr("name", "(clean_id * 7 + 1)")} AS name
          |  FROM clean WHERE clean_id % 3 = 0
          |), pairsj AS (
          |  SELECT a.id AS id_a, b.id AS id_b
          |  FROM pool a JOIN pool b
          |    ON a.id < b.id AND levenshtein(a.name, b.name) <= 1
          |),
          |""".stripMargin + duckClosure + "\n" +
        """SELECT p.id, coalesce(c.comp, p.id) AS canonical_id, p.name
          |FROM pool p LEFT JOIN compm c ON c.id = p.id
          |ORDER BY p.id""".stripMargin)))((s, dir) => withShufflePartitions(s, 8) {
      val clean = cleanPartNames(s, dir)
      val va = clean.filter(col("clean_id") % 2 === 0).select(
        (col("clean_id") + 100000L).as("id"),
        typoName(col("name"), col("clean_id")).as("name"))
      val vb = clean.filter(col("clean_id") % 3 === 0).select(
        (col("clean_id") + 500000L).as("id"),
        typoName(col("name"), col("clean_id") * 7L + 1L).as("name"))
      val pool = clean.select(col("clean_id").as("id"), col("name"))
        .unionByName(va).unionByName(vb)
      val pairs = FuzzyJoin.fuzzyJoin(
          pool.select(col("id").as("ida"), col("name").as("na")),
          pool.select(col("id").as("idb"), col("name").as("nb")),
          "ida", "na", "idb", "nb", maxDist = 1)
        .filter(col("ida") < col("idb"))
        .select(col("ida").as("id_a"), col("idb").as("id_b"))
      val comp = Dedup.connectedComponents(pairs)
      // cut inside the scope (the er02 lesson: the returned lazy frame
      // executes after the partition scope is restored)
      graft.ops.Lineage.cut(
        pool.join(comp, Seq("id"), "left")
          .select(col("id"),
            coalesce(col("label"), col("id")).as("canonical_id"), col("name"))
          .orderBy(col("id")))
    })
  )
}
