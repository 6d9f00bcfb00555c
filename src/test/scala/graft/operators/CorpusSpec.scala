package graft.operators

import graft.SparkSpec

class CorpusSpec extends SparkSpec {

  test("corpus diff emits exactly the added/removed/changed docs, never unchanged") {
    val rows = Corpus.q66CorpusDiff(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(rows.nonEmpty)
    // recompute membership from the fixture rules
    val ids = graft.core.Tables.documents(spark, sf)
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1))
    ids.foreach { case (id, text) =>
      val inV1 = id % Corpus.RemovedInV2Mod != Corpus.RemovedInV2Rem
      val inV2 = id % Corpus.DroppedFromV1Mod != Corpus.DroppedFromV1Rem
      val edited = id % Corpus.ChangedMod == 0 &&
        text.toUpperCase.trim != text.trim
      val expected =
        if (!inV1 && inV2) Some("added")
        else if (inV1 && !inV2) Some("removed")
        else if (inV1 && inV2 && edited) Some("changed")
        else None
      assert(rows.get(id) == expected, s"doc $id: got ${rows.get(id)}, want $expected")
    }
  }

  test("snapshot fixture: materialized once per corpus version, invalidated on rewrite") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_snap").toFile
    val src = new java.io.File(sf, "documents.parquet")
    val dst = new java.io.File(tmp, "documents.parquet")
    java.nio.file.Files.copy(src.toPath, dst.toPath)
    try {
      val first = SnapshotFixture.ensure(spark, tmp.getPath)
      val names = new java.io.File(first).listFiles().map(_.getName).toSet
      assert(Set("documents_v1_edit", "documents_v1_growth", "documents_v2")
        .subsetOf(names), s"all three snapshot tables materialized: $names")
      // second call reuses the files (commit marker mtime unchanged)
      val marker = new java.io.File(first, "documents_v2/_SUCCESS")
      val stamp = marker.lastModified()
      assert(stamp > 0L, s"no commit marker at $marker")
      assert(SnapshotFixture.ensure(spark, tmp.getPath) == first)
      assert(marker.lastModified() == stamp, "re-ensure must not rewrite")
      // the materialized v2 equals the rule-derived v2 (the files are
      // faithful — the property the oracle agreement rests on)
      import org.apache.spark.sql.functions.col
      val fromFiles = SnapshotFixture.table(spark, tmp.getPath, "documents_v2")
        .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
      val derived = graft.core.Tables.documents(spark, tmp.getPath)
        .filter(col("doc_id") % Corpus.DroppedFromV1Mod =!= Corpus.DroppedFromV1Rem)
        .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
      assert(fromFiles == derived)
      // a corpus rewrite re-materializes under a new version key and
      // deletes the stale one — file-level versioning end-to-end
      assert(dst.setLastModified(dst.lastModified() + 120000))
      val second = SnapshotFixture.ensure(spark, tmp.getPath)
      assert(second != first, "new corpus version, new snapshot key")
      assert(!new java.io.File(first).exists(), "stale snapshot version must be deleted")
    } finally {
      graft.core.ArtifactStore.release(spark, tmp.getPath)
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(); ()
      }
      rm(tmp)
    }
  }

  test("diff output is change-sized: identical corpora diff to empty") {
    val docs = graft.core.Tables.documents(spark, sf)
    assert(Corpus.diff(docs, docs).isEmpty, "self-diff must be empty")
  }

  test("composition drift: self-drift is zero, shifted mix yields KL > 0") {
    import spark.implicits._
    // identical versions → zero drift, zero KL everywhere
    val same = Seq(("s1", "en", 60L, 60L), ("s1", "de", 20L, 20L), ("s2", "en", 20L, 20L))
      .toDF("source", "lang", "n1", "n2")
    Corpus.drift(same).collect().foreach { r =>
      assert(r.getDouble(6) == 0.0 && r.getDouble(7) == 0.0, s"self-drift: $r")
    }
    // v2 shifts mass from s1/en to s2/en → drift signs match, KL sum > 0
    val shifted = Seq(("s1", "en", 80L, 40L), ("s2", "en", 20L, 60L))
      .toDF("source", "lang", "n1", "n2")
    val rows = Corpus.drift(shifted).collect()
    assert(rows.find(_.getString(0) == "s1").get.getDouble(6) < 0)
    assert(rows.find(_.getString(0) == "s2").get.getDouble(6) > 0)
    assert(rows.map(_.getDouble(7)).sum > 0, "KL(v2||v1) must be positive for a real shift")
    // shares are proper distributions
    assert(math.abs(rows.map(_.getDouble(4)).sum - 1.0) < 1e-9)
    assert(math.abs(rows.map(_.getDouble(5)).sum - 1.0) < 1e-9)
  }

  test("incremental stats maintenance lands exactly on the direct v2 aggregation") {
    import spark.implicits._
    val v1 = Seq(
      (1L, "a b c", "s1"), (2L, "d e", "s1"),        // doc 2 will change
      (3L, "f g h i", "s2"),                          // will be removed
      (4L, "j", "s3")                                 // s3 empties out
    ).toDF("doc_id", "text", "source")
    val v2 = Seq(
      (1L, "a b c", "s1"), (2L, "d e EXTENDED NOW", "s1"),
      (5L, "new doc here", "s4")                      // s4 appears
    ).toDF("doc_id", "text", "source")
    val got = Corpus.incrementalStats(Corpus.statsOf(v1), v1, v2)
      .orderBy("source").collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    val direct = Corpus.statsOf(v2)
      .orderBy("source").collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(got.toSeq == direct.toSeq)
    assert(!got.map(_._1).contains("s3"), "emptied-out source disappears")
    assert(got.map(_._1).contains("s4"), "new source appears")
  }

  test("incremental stats: a doc moving between sources with unchanged text reconciles") {
    import spark.implicits._
    // doc 2's text is identical in both versions — only its source moves.
    // A content-only diff calls it unchanged and BOTH sources' stats
    // silently diverge from the recompute; the source-folded fingerprint
    // must classify it as changed (−1 doc/−2 tokens for s1, +1/+2 for s2).
    val v1 = Seq((1L, "a b c", "s1"), (2L, "d e", "s1")).toDF("doc_id", "text", "source")
    val v2 = Seq((1L, "a b c", "s1"), (2L, "d e", "s2")).toDF("doc_id", "text", "source")
    val got = Corpus.incrementalStats(Corpus.statsOf(v1), v1, v2)
      .orderBy("source").collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    val direct = Corpus.statsOf(v2)
      .orderBy("source").collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(got.toSeq == direct.toSeq,
      s"moved-source doc must reconcile: got=${got.toSeq} want=${direct.toSeq}")
  }

  test("q71 cell counts conserve the two fixture versions' totals") {
    val docs = graft.core.Tables.documents(spark, sf)
    val rows = Corpus.q71CompositionDrift(spark, sf).collect()
    val v1 = docs.filter(s"doc_id % ${Corpus.RemovedInV2Mod} <> ${Corpus.RemovedInV2Rem}").count()
    val v2 = docs.filter(s"doc_id % ${Corpus.DroppedFromV1Mod} <> ${Corpus.DroppedFromV1Rem}").count()
    assert(rows.map(_.getLong(2)).sum == v1)
    assert(rows.map(_.getLong(3)).sum == v2)
    assert(rows.map(r => (r.getString(0), r.getString(1))).distinct.length == rows.length)
  }

  test("SCD2 merge: row multiplicity per doc matches its diff status") {
    import org.apache.spark.sql.functions._
    val hist = Corpus.q86Scd2Merge(spark, sf)
    val byDoc = hist.groupBy("doc_id").agg(
      count(lit(1)).as("n"),
      sum(when(col("is_current"), 1L).otherwise(0L)).as("n_current"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    val status = Corpus.q66CorpusDiff(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    byDoc.foreach { case (id, (n, nCur)) =>
      status.get(id) match {
        case Some("changed") => assert(n == 2 && nCur == 1, s"doc $id changed: $n/$nCur")
        case Some("removed") => assert(n == 1 && nCur == 0, s"doc $id removed: $n/$nCur")
        case Some("added")   => assert(n == 1 && nCur == 1, s"doc $id added: $n/$nCur")
        case _               => assert(n == 1 && nCur == 1, s"doc $id unchanged: $n/$nCur")
      }
    }
    // every doc in either snapshot appears; nobody else does
    val v1 = SnapshotFixture.table(spark, sf, "documents_v1_edit")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val v2 = SnapshotFixture.table(spark, sf, "documents_v2")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(byDoc.keySet == (v1 ++ v2))
    // current rows reproduce v2 exactly (the SCD2 "as-of now" slice)
    val current = hist.filter(col("is_current")).select("doc_id")
      .collect().map(_.getLong(0)).toSet
    assert(current == v2, "as-of-now slice must equal the v2 snapshot")
  }

  test("q94 novelty: docs carried unchanged from v1 score exactly zero") {
    val rows = Corpus.q94Novelty(spark, sf).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    val allDocs = graft.core.Tables.documents(spark, sf)
      .select("doc_id").collect().map(_.getLong(0))
    assert(rows.keySet == allDocs.toSet, "every current doc is scored")
    var unchanged = 0
    allDocs.foreach { id =>
      val (nSh, nKnown, nov) = rows(id)
      assert(nKnown <= nSh && nov >= 0.0 && nov <= 1.0)
      val inV1 = id % Corpus.RemovedInV2Mod != Corpus.RemovedInV2Rem
      val edited = id % Corpus.ChangedMod == 0
      if (inV1 && !edited) { // its exact shingle set is in the reference
        assert(nov == 0.0, s"doc $id unchanged from v1 but novelty $nov")
        unchanged += 1
      }
    }
    assert(unchanged > 100)
    // the fixture plants real novelty: some doc scores above zero
    assert(rows.values.exists(_._3 > 0.0))
  }

  test("incremental signature maintenance touches only the changed slice") {
    import org.apache.spark.sql.functions._
    val v1 = SnapshotFixture.table(spark, sf, "documents_v1_edit")
    val v2 = SnapshotFixture.table(spark, sf, "documents_v2")
    // equality with the direct rebuild, at full signature grain (the
    // oracle checks (doc_id, n_sh); here compare the hash arrays too)
    val inc = Corpus.incrementalSigs(Dedup.sigsOf(v1), v1, v2)
      .select(col("doc_id"), col("hs")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1).toSet).toMap
    val rebuilt = Dedup.sigsOf(v2)
      .select(col("doc_id"), col("hs")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1).toSet).toMap
    assert(inc == rebuilt)
    // change-sized: the fresh side re-shingles exactly the added/changed docs
    val changed = Corpus.diff(v1, v2).collect()
      .filter(r => Set("added", "changed").contains(r.getString(1)))
      .map(_.getLong(0)).toSet
    val carried = inc.keySet -- changed
    // carried rows must be the v1 signatures verbatim
    val prev = Dedup.sigsOf(v1).select(col("doc_id"), col("hs")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1).toSet).toMap
    carried.foreach(id => assert(inc(id) == prev(id)))
    assert(changed.nonEmpty && carried.nonEmpty)
  }

  test("q94 plan: reference reduces before the join; shuffles stay bounded") {
    val df = Corpus.q94Novelty(spark, sf)
    df.collect()
    val shuffles = graft.layout.BucketedLayout
      .collectExchanges(df.queryExecution.executedPlan)
      .count(_.toLowerCase.contains("shuffle"))
    // ref distinct + shingle join + per-doc reduce + output sort
    assert(shuffles <= 4, s"q94 runs $shuffles shuffles")
    val plan = df.queryExecution.explainString(
      org.apache.spark.sql.execution.FormattedMode)
    // the distinct (ref-set reduction) must sit BELOW the join: joining
    // the raw reference explode would shuffle duplicate shingle rows
    val joinPos = plan.indexOf("SortMergeJoin")
    val hashJoinPos = plan.indexOf("BroadcastHashJoin")
    val anyJoin = if (joinPos >= 0) joinPos else hashJoinPos
    assert(anyJoin >= 0, s"no join in q94 plan\n$plan")
  }

  test("incremental tokens equal the direct v2 rebuild, position for position") {
    val v1 = SnapshotFixture.table(spark, sf, "documents_v1_growth")
    val v2 = SnapshotFixture.table(spark, sf, "documents_v2")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("doc_id", "dl", "pos", "token").collect().map(_.toString).sorted.toSeq
    val maintained = rows(Corpus.incrementalTokens(TextOps.tokenized(v1), v1, v2))
    val direct = rows(TextOps.tokenized(v2))
    assert(maintained == direct,
      "carry-unchanged + rebuild-diff must equal the from-scratch tokenize")
    // the growth rule really changes token counts for edited docs — the
    // carry path alone would be wrong, so the equality above is load-bearing
    val changedWrong = rows(TextOps.tokenized(v1)
      .join(v2.select("doc_id"), "doc_id")) // v1 tokens restricted to v2 docs
    assert(changedWrong != direct, "fixture sanity: v1 tokens differ from v2's")
  }

  test("q127 attrition funnel: monotone survivors, raw row = corpus totals") {
    val rows = Corpus.q127AttritionReport(spark, sf).collect()
      .map(r => (r.getInt(0), r.getString(1), r.getLong(2), r.getLong(3)))
    assert(rows.map(_._2).toSeq ==
      Seq("raw", "lang_en", "quality", "exact_dedup", "near_dedup"))
    val docs = graft.core.Tables.documents(spark, sf)
    assert(rows(0)._3 == docs.count(), "raw stage counts every document")
    // each stage filters the previous stage's survivors
    rows.sliding(2).foreach { case Array(a, b) =>
      assert(b._3 <= a._3 && b._4 <= a._4, s"stage ${b._2} grew vs ${a._2}")
    }
    // lang stage = exact en count
    assert(rows(1)._3 ==
      docs.filter(org.apache.spark.sql.functions.col("lang") === "en").count())
  }

  test("attrition: exact-dup copies drop at stage 3; pairs of non-survivors drop nobody") {
    import spark.implicits._
    // all-distinct tokens → quality = 0.1 + 0.5 = 0.6 ≥ the 0.4 floor
    val text = (1 to 20).map(i => s"alpha$i").mkString(" ")
    val other = (1 to 20).map(i => s"beta$i").mkString(" ")
    val docs = Seq(
      (1L, "en", text),          // keeper of the exact group {1, 2}
      (2L, "en", text),          // exact copy → dropped at exact_dedup
      (3L, "en", other),         // near-dup keeper of {3, 4}
      (4L, "en", other + " x"),  // near-dup of 3 → dropped at near_dedup
      (5L, "de", text)           // non-en → dropped at lang stage
    ).toDF("doc_id", "lang", "text")
    val lens = docs.select($"doc_id",
      org.apache.spark.sql.functions.size(TextOps.tokens($"text"))
        .cast("long").as("n_tok"))
    // pair (2,5): both already gone before near-dedup — must not affect
    // anyone; pair (3,4): both survive to stage 3, 4 drops
    val pairs = Seq((3L, 4L), (2L, 5L)).toDF("d1", "d2")
    val got = Corpus.attritionReport(spark, docs, lens, pairs).collect()
      .map(r => r.getString(1) -> r.getLong(2)).toMap
    assert(got("raw") == 5)
    assert(got("lang_en") == 4)       // doc 5 out
    assert(got("quality") == 4)       // all long/diverse enough
    assert(got("exact_dedup") == 3)   // doc 2 out (doc 1 kept: min id)
    assert(got("near_dedup") == 2)    // doc 4 out; pair (2,5) inert
  }

  test("q231: per-source content drift sees the planted v1 edits") {
    val rows = Corpus.q231VersionContentDrift(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (n1, n2, shared) = (r.getLong(1), r.getLong(2), r.getLong(3))
      val (j, d) = (r.getLong(4), r.getLong(5))
      assert(shared <= math.min(n1, n2), s"${r.getString(0)}: |∩| > |set|")
      assert(j + d == 1000000L, "jaccard and drift must complement")
      assert(j >= 0 && j <= 1000000L)
    }
    // the fixtures PLANT drift (uppercased 17-mod docs in v1, births and
    // deaths across versions), so no source can be at Jaccard 1
    assert(rows.forall(_.getLong(5) > 0), "a source shows zero drift")
    // and the versions still overlap heavily (only ~1/17 of docs edit)
    assert(rows.exists(_.getLong(4) > 500000L), "drift implausibly total")
  }
}
