package graft.operators

import graft.SparkSpec

class DedupSpec extends SparkSpec {

  test("minhash-LSH pairs equal exact n-gram Jaccard pairs") {
    val exact = Dedup.q26NgramJaccard(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val lsh = Dedup.q27MinhashLsh(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(exact.nonEmpty, "fixture should contain planted near-dups")
    assert(lsh == exact,
      s"LSH (${lsh.size}) should match exact (${exact.size}) at these parameters")
  }

  test("simhash near-dup pairs cover the high-Jaccard planted pairs") {
    val exact = Dedup.q26NgramJaccard(spark, sf).collect()
      .filter(_.getDouble(2) >= 0.9)
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val sim = Dedup.simhashPairs(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.nonEmpty)
    val recall = exact.count(sim.contains).toDouble / exact.size
    assert(recall >= 0.9, s"simhash recall $recall over ${exact.size} planted pairs")
  }

  test("simhash pairs are truly similar (precision against jaccard)") {
    // every surfaced simhash pair should share a meaningful shingle overlap
    val simPairs = Dedup.simhashPairs(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val docs = graft.core.Tables.documents(spark, sf)
    val all = Dedup.jaccardPairs(Dedup.sigsOf(docs), 0.0).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    val bad = simPairs.filter(p => all.getOrElse(p, 0.0) < 0.3)
    assert(bad.size <= simPairs.size / 10,
      s"simhash false positives: ${bad.take(5)} of ${simPairs.size}")
  }

  test("span dedup: later grid-aligned duplicate spans drop, docs reassemble in order") {
    import spark.implicits._
    def span(p: String): String = (1 to 4).map(p + _).mkString(" ") // 4-token spans, win=4
    // doc 1: A B; doc 2: A C (A repeats → doc 2 keeps only C);
    // doc 3: B (fully duplicate → disappears); doc 4: D E (untouched)
    val docs = Seq(
      (1L, s"${span("a")} ${span("b")}"),
      (2L, s"${span("a")} ${span("c")}"),
      (3L, span("b")),
      (4L, s"${span("d")} ${span("e")}")
    ).toDF("doc_id", "text")
    val out = Dedup.spanDedup(docs, 4).collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2), r.getLong(3)))).toMap
    assert(out.keySet == Set(1L, 2L, 4L), s"fully-duplicate doc 3 must disappear: $out")
    assert(out(1L) == ((s"${span("a")} ${span("b")}", 2L, 0L)), "first occurrences all survive")
    assert(out(2L) == ((span("c"), 1L, 1L)), "repeated span drops, remainder reassembles")
    assert(out(4L) == ((s"${span("d")} ${span("e")}", 2L, 0L)))
    // corpus conservation on the real fixture: kept spans = distinct spans
    val fixture = Dedup.q80SpanDedup(spark, sf).collect()
    val kept = fixture.map(_.getLong(2)).sum
    val docsT = graft.core.Tables.documents(spark, sf)
    import org.apache.spark.sql.functions._
    val totalDistinct = docsT
      .select(explode(transform(
        sequence(lit(0), (ceil(size(TextOps.tokens(col("text"))) / lit(Dedup.SpanWindow.toDouble)) - 1).cast("int")),
        i => array_join(slice(TextOps.tokens(col("text")), i * Dedup.SpanWindow + 1, lit(Dedup.SpanWindow)), " "))).as("w"))
      .filter(col("w") =!= "").select(countDistinct(col("w"))).head().getLong(0)
    assert(kept == totalDistinct, s"kept=$kept distinct=$totalDistinct")
  }

  test("q28 gate verdict: exact-pair count matches and both floors hold") {
    val row = Dedup.q28Simhash(spark, sf).head()
    val expected = Dedup.q26NgramJaccard(spark, sf).collect()
      .count(_.getDouble(2) >= Dedup.SimhashRecallJaccard)
    assert(row.getLong(0) == expected.toLong, "gate count must equal the exact twin's")
    assert(row.getBoolean(1) && row.getBoolean(2), s"gate verdicts must hold: $row")
  }

  test("driver-local union-find CC equals the distributed pointer-jumping loop") {
    val local = Dedup.q38DedupApply(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSet
    spark.conf.set("spark.graft.cc.localThreshold", "0") // force distributed
    try {
      val distributed = Dedup.q38DedupApply(spark, sf).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSet
      assert(local.nonEmpty)
      assert(local == distributed)
    } finally spark.conf.unset("spark.graft.cc.localThreshold")
  }

  test("q38 cluster labels are identical under the reliable-checkpoint flag") {
    // cluster posture (spark.graft.checkpointDir → real checkpoint) must
    // change only fault tolerance, never the labels. Force the DISTRIBUTED
    // path — the driver-local fast path never checkpoints, and this spec
    // exists to exercise the checkpointing loop.
    spark.conf.set("spark.graft.cc.localThreshold", "0")
    val cpDir = java.nio.file.Files.createTempDirectory("graft_cc_cp").toString
    try {
      val default = Dedup.q38DedupApply(spark, sf).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSet
      spark.conf.set("spark.graft.checkpointDir", cpDir)
      val reliable = Dedup.q38DedupApply(spark, sf).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSet
      assert(reliable == default)
    } finally {
      spark.conf.unset("spark.graft.checkpointDir")
      spark.conf.unset("spark.graft.cc.localThreshold")
    }
  }

  test("signature-stage caches are shared across the family and fully released") {
    graft.core.ArtifactStore.releaseAll()
    val before = spark.sparkContext.getPersistentRDDs.keySet
    // running the whole family must add only SignatureStage-owned caches…
    Dedup.q26NgramJaccard(spark, sf).collect()
    Dedup.q27MinhashLsh(spark, sf).collect()
    Dedup.simhashPairs(spark, sf).collect()
    val sigs = Dedup.shingleSigs(spark, sf)
    val cand = Dedup.candidatePairs(spark, sf)
    val verified = Dedup.verifiedPairs(spark, sf)
    assert(sigs.storageLevel.useMemory || sigs.storageLevel.useDisk,
      "shared signature table should be cached while the stage is live")
    // …and releasing the stage must leave the block manager as it was
    graft.core.ArtifactStore.releaseAll()
    assert(sigs.storageLevel == org.apache.spark.storage.StorageLevel.NONE)
    assert(cand.storageLevel == org.apache.spark.storage.StorageLevel.NONE)
    assert(verified.storageLevel == org.apache.spark.storage.StorageLevel.NONE)
    val leaked = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(leaked.isEmpty, s"family queries leaked cached RDDs: $leaked")
  }

  test("a corpus rewrite evicts stale signature stages") {
    // same content, different dir version: copy the documents table into a
    // temp corpus, build the stage, touch the file, rebuild — the stale
    // stage must be unpersisted, not stranded
    val tmp = java.nio.file.Files.createTempDirectory("graft_sigstage").toFile
    val src = new java.io.File(sf, "documents.parquet")
    val dst = new java.io.File(tmp, "documents.parquet")
    java.nio.file.Files.copy(src.toPath, dst.toPath)
    try {
      // plan-identity note: first/second share a logical plan, so
      // Dataset.storageLevel can't tell old cache entry from new —
      // track eviction by persistent-RDD ids instead
      val before = spark.sparkContext.getPersistentRDDs.keySet
      val first = Dedup.shingleSigs(spark, tmp.getPath)
      val firstIds = spark.sparkContext.getPersistentRDDs.keySet -- before
      assert(firstIds.nonEmpty, "stage build should register a cached RDD")
      assert(dst.setLastModified(dst.lastModified() + 120000))
      val second = Dedup.shingleSigs(spark, tmp.getPath)
      val afterSecond = spark.sparkContext.getPersistentRDDs.keySet
      assert(firstIds.forall(id => !afterSecond.contains(id)),
        "stale-version stage should be unpersisted on rebuild")
      assert(second.storageLevel.useMemory || second.storageLevel.useDisk)
      assert(second.count() == first.count())
    } finally {
      graft.core.ArtifactStore.release(spark, tmp.getPath)
      dst.delete(); tmp.delete()
    }
  }

  test("bucketed shingle_h stage: reloaded join path has no corpus-side Exchange") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_sigbucket").toFile
    val src = new java.io.File(sf, "documents.parquet")
    val dst = new java.io.File(tmp, "documents.parquet")
    java.nio.file.Files.copy(src.toPath, dst.toPath)
    spark.conf.set("spark.graft.signatures.persist", "true")
    // force the shuffle-join fallback — the path bucketing exists for
    spark.conf.set("spark.graft.decontam.broadcastShingleLimit", "0")
    // the fixture eval side is tiny, so AQE would broadcast it and hide
    // the shuffle join this test exists to exercise — force the SMJ the
    // production regime (eval set over the broadcast limit) would plan
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    import org.apache.spark.sql.functions.col
    val isEval = col("doc_id") % Dedup.EvalDocModulus === 0
    // flatten through AQE stage boundaries AND cached-relation walls (an
    // InMemoryTableScan's subtree hangs off relation.cachedPlan, not
    // children — without this case the bucketed scan is invisible)
    def flatten(p: org.apache.spark.sql.execution.SparkPlan)
        : Seq[org.apache.spark.sql.execution.SparkPlan] =
      graft.core.Plans.planNodes(p).flatMap {
        case i: org.apache.spark.sql.execution.columnar.InMemoryTableScanExec =>
          i +: flatten(i.relation.cachedPlan)
        case o => Seq(o)
      }
    def smjSides(df: org.apache.spark.sql.DataFrame) =
      flatten(df.queryExecution.executedPlan).collectFirst {
        case j: org.apache.spark.sql.execution.joins.SortMergeJoinExec => Seq(j.left, j.right)
      }.getOrElse(fail("expected a sort-merge join in the fallback plan"))
    def shuffles(p: org.apache.spark.sql.execution.SparkPlan): Int =
      flatten(p).count(_.isInstanceOf[org.apache.spark.sql.execution.exchange.ShuffleExchangeLike])
    try {
      // baseline twin BEFORE the bucketed stage exists: explode inline,
      // unbucketed — both sides of the h-join shuffle
      val sigs = Dedup.shingleSigs(spark, tmp.getPath)
      val flat = Dedup.decontaminate(spark, sigs.filter(!isEval), sigs.filter(isEval))
      val expected = flat.collect().map(_.toString).sorted.toSeq
      smjSides(flat).foreach(side => assert(shuffles(side) > 0,
        "unbucketed fallback must shuffle both join sides"))
      // build + persist the bucketed stage, then reload it the way a
      // fresh session would (release wipes the in-memory cache; the
      // throwing thunk proves the reload comes from storage)
      Dedup.shingleHashes(spark, tmp.getPath).count()
      graft.core.ArtifactStore.release(spark, tmp.getPath)
      val reloaded = graft.operators.SignatureStage.stage(spark, tmp.getPath, "shingle_h",
        Some(graft.operators.SignatureStage.BucketSpec(Seq("h"), Dedup.ShingleHashBuckets))) {
        throw new AssertionError("bucketed stage must reload, not rebuild")
      }
      val bucketed = Dedup.decontaminateExploded(spark,
        reloaded.filter(!isEval), sigs.filter(isEval))
      assert(bucketed.collect().map(_.toString).sorted.toSeq == expected,
        "bucketing must change the plan, never the values")
      val plan = bucketed.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      val sides = smjSides(bucketed)
      val (corpusSide, evalSide) = sides.partition(side =>
        flatten(side).exists(_.toString.contains("shingle_h"))) match {
        case (Seq(c), rest) => (c, rest)
        case other => fail(s"exactly one join side should read shingle_h: $other\n$plan")
      }
      assert(shuffles(corpusSide) == 0,
        s"the corpus side must ride its bucket partitioning — no Exchange\n$plan")
      assert(evalSide.forall(shuffles(_) > 0),
        "the eval side still shuffles to match the bucket layout")
    } finally {
      spark.conf.unset("spark.graft.signatures.persist")
      spark.conf.unset("spark.graft.decontam.broadcastShingleLimit")
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
      spark.conf.unset("spark.sql.adaptive.autoBroadcastJoinThreshold")
      graft.core.ArtifactStore.release(spark, tmp.getPath)
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(); ()
      }
      rm(tmp)
    }
  }

  test("persisted signature stages survive release and reload without rebuild") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_sigpersist").toFile
    val src = new java.io.File(sf, "documents.parquet")
    val dst = new java.io.File(tmp, "documents.parquet")
    java.nio.file.Files.copy(src.toPath, dst.toPath)
    spark.conf.set("spark.graft.signatures.persist", "true")
    try {
      val first = Dedup.shingleSigs(spark, tmp.getPath)
      val n = first.count()
      val root = new java.io.File(tmp, "_graft/signatures")
      assert(root.isDirectory && root.listFiles().nonEmpty,
        "stage should be written as parquet next to the corpus")
      // a fresh session has a new applicationId and an empty in-memory
      // cache — release() reproduces that state; the rebuilt stage must
      // come from disk, proven by a build thunk that would fail the test
      graft.core.ArtifactStore.release(spark, tmp.getPath)
      var rebuilt = false
      val second = SignatureStage.stage(spark, tmp.getPath, "shingle_sigs") {
        rebuilt = true
        Dedup.sigsOf(graft.core.Tables.documents(spark, tmp.getPath))
      }
      assert(!rebuilt, "stage must load from storage, not recompute the corpus pass")
      assert(second.count() == n)
      // a corpus rewrite changes the version: the old on-disk version is
      // evicted when the new one persists
      val versionsBefore = root.listFiles().map(_.getName).toSet
      assert(dst.setLastModified(dst.lastModified() + 120000))
      Dedup.shingleSigs(spark, tmp.getPath).count()
      val versionsAfter = root.listFiles().map(_.getName).toSet
      assert(versionsAfter.size == 1 && (versionsAfter intersect versionsBefore).isEmpty,
        s"stale persisted versions must be deleted: before=$versionsBefore after=$versionsAfter")
    } finally {
      spark.conf.unset("spark.graft.signatures.persist")
      graft.core.ArtifactStore.release(spark, tmp.getPath)
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).foreach(_.foreach(rm)); f.delete()
      }
      rm(tmp)
    }
  }

  test("shared signatures.dir root: persisting corpus B keeps corpus A's stages") {
    val shared = java.nio.file.Files.createTempDirectory("graft_sigshared").toFile
    def corpus(name: String): java.io.File = {
      val d = new java.io.File(shared, name)
      d.mkdirs()
      java.nio.file.Files.copy(
        new java.io.File(sf, "documents.parquet").toPath,
        new java.io.File(d, "documents.parquet").toPath)
      d
    }
    val (a, b) = (corpus("corpusA"), corpus("corpusB"))
    val root = new java.io.File(shared, "sigroot")
    spark.conf.set("spark.graft.signatures.persist", "true")
    spark.conf.set("spark.graft.signatures.dir", root.getPath)
    try {
      Dedup.shingleSigs(spark, a.getPath).count() // persists A under the shared root
      Dedup.shingleSigs(spark, b.getPath).count() // B's eviction must not touch A
      graft.core.ArtifactStore.release(spark, a.getPath)
      var rebuilt = false
      SignatureStage.stage(spark, a.getPath, "shingle_sigs") {
        rebuilt = true
        Dedup.sigsOf(graft.core.Tables.documents(spark, a.getPath))
      }.count()
      assert(!rebuilt,
        "corpus A's persisted stage must survive corpus B's stale-version eviction")
    } finally {
      spark.conf.unset("spark.graft.signatures.persist")
      spark.conf.unset("spark.graft.signatures.dir")
      Seq(a, b).foreach(d => graft.core.ArtifactStore.release(spark, d.getPath))
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(); ()
      }
      rm(shared)
    }
  }

  test("decontamination flags exactly the train docs overlapping the eval slice") {
    val rows = Dedup.q62Decontaminate(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(rows.nonEmpty, "low-entropy corpus should have eval-overlapping docs")
    // no eval doc may appear in the output
    assert(rows.keys.forall(_ % Dedup.EvalDocModulus != 0))
    // spot-check one flagged doc against a direct shingle intersection
    val (docId, nShared) = rows.head
    import org.apache.spark.sql.functions._
    val docs = graft.core.Tables.documents(spark, sf)
    def shingleSet(filter: org.apache.spark.sql.Column): Set[String] =
      docs.filter(filter)
        .select(explode(Dedup.shingleArray(col("text"))).as("s"))
        .distinct().collect().map(_.getString(0)).toSet
    val evalSet = shingleSet(col("doc_id") % Dedup.EvalDocModulus === 0)
    val docSet = shingleSet(col("doc_id") === docId)
    assert((docSet intersect evalSet).size.toLong == nShared)
  }

  test("decontamination guards the broadcast: oversized eval takes the shuffle join") {
    import org.apache.spark.sql.functions._
    val docs = graft.core.Tables.documents(spark, sf)
    val isEval = col("doc_id") % Dedup.EvalDocModulus === 0
    val trainSigs = Dedup.sigsOf(docs.filter(!isEval))
    // the production shape: an external benchmark table shingled with the
    // same pipeline
    val evalDocs = Dedup.sigsOf(docs.filter(isEval))
    // pin auto-broadcast off so the ONLY way a BroadcastHashJoin appears
    // is our explicit hint — isolates the operator's decision from the
    // planner's size-based one
    val prevAuto = spark.conf.getOption("spark.sql.autoBroadcastJoinThreshold")
    val prevAqe = spark.conf.getOption("spark.sql.adaptive.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    try {
      val hinted = Dedup.decontaminate(spark, trainSigs, evalDocs)
      val expected = hinted.collect().map(r => r.getLong(0) -> r.getLong(1)).toSeq
      assert(hinted.queryExecution.executedPlan.toString.contains("BroadcastHashJoin"),
        "under the limit the eval side must broadcast")
      spark.conf.set("spark.graft.decontam.broadcastShingleLimit", "1")
      val fallback = Dedup.decontaminate(spark, trainSigs, evalDocs)
      val rows = fallback.collect().map(r => r.getLong(0) -> r.getLong(1)).toSeq
      assert(rows == expected, "join strategy must not change results")
      assert(!fallback.queryExecution.executedPlan.toString.contains("BroadcastHashJoin"),
        "an over-limit eval set must not be broadcast")
    } finally {
      spark.conf.unset("spark.graft.decontam.broadcastShingleLimit")
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
      spark.conf.unset("spark.sql.adaptive.autoBroadcastJoinThreshold")
      prevAuto.fold(spark.conf.unset("spark.sql.autoBroadcastJoinThreshold"))(
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", _))
      prevAqe.fold(spark.conf.unset("spark.sql.adaptive.autoBroadcastJoinThreshold"))(
        spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", _))
    }
  }

  test("shingleArray produces k-grams and handles short docs") {
    import spark.implicits._
    val df = Seq((1L, "a b c d e f"), (2L, "a b")).toDF("doc_id", "text")
    val rows = df.select(org.apache.spark.sql.functions.col("doc_id"),
        Dedup.shingleArray(org.apache.spark.sql.functions.col("text"))).collect()
    val m = rows.map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    assert(m(1L) == Seq("a b c d e", "b c d e f"))
    assert(m(2L) == Seq("a b")) // shorter than k: one truncated shingle
  }

  test("q99 prefix filtering: exact q26 answer from a pruned candidate set") {
    import org.apache.spark.sql.functions._
    val got = Dedup.q99PrefixJoin(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val exact = Dedup.q26NgramJaccard(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(got == exact)
    assert(got.nonEmpty)
    // the prefix join generates strictly fewer candidate pairs than the
    // full shared-shingle self-join (the pruning that makes it scale)
    val sigs = Dedup.shingleSigs(spark, sf)
    def pairsOf(frame: org.apache.spark.sql.DataFrame): Long = {
      val sh = frame.select(col("doc_id"), explode(col("hs")).as("h"))
      sh.select(col("doc_id").as("d1"), col("h"))
        .join(sh.select(col("doc_id").as("d2"), col("h")), Seq("h"))
        .filter(col("d1") < col("d2")).select("d1", "d2").distinct().count()
    }
    val thr = 0.6
    val prefLen = (col("n_sh") - ceil(col("n_sh") * thr) + 1).cast("int")
    val prefixPairs = pairsOf(sigs.select(col("doc_id"),
      slice(array_sort(col("hs")), lit(1), prefLen).as("hs")))
    val allPairs = pairsOf(sigs)
    assert(prefixPairs < allPairs,
      s"prefix must prune: $prefixPairs vs $allPairs")
    assert(prefixPairs >= got.size, "candidates must cover every result pair")
  }

  test("source overlap matrix: exact Jaccard between per-source shingle sets") {
    import spark.implicits._
    // sub-5-token docs collapse to one whole-text shingle each, so the
    // per-source sets are exactly {"p q","r s"} and {"p q","t u"}
    val docs = Seq(
      (0L, "p q"), (1L, "r s"),
      (2L, "p q"), (3L, "t u")).toDF("doc_id", "text")
    val meta = Seq((0L, "A"), (1L, "A"), (2L, "B"), (3L, "B"))
      .toDF("doc_id", "source")
    val out = Dedup.sourceOverlap(Dedup.sigsOf(docs), meta).collect()
    assert(out.length == 1)
    val r = out.head
    assert((r.getString(0), r.getString(1), r.getLong(2), r.getLong(3),
      r.getLong(4), r.getLong(5)) == ("A", "B", 2L, 2L, 1L, 3L))
    assert(r.getDouble(6) == 1.0 / 3)
  }

  test("cluster histogram buckets duplicate groups by size") {
    import spark.implicits._
    // groups: {1,2,3} keeper 1, {5,6} keeper 5, {8,9} keeper 8
    val labels = Seq(
      (1L, 1L), (2L, 1L), (3L, 1L), (5L, 5L), (6L, 5L), (8L, 8L), (9L, 8L))
      .toDF("doc_id", "keeper")
    val out = Dedup.clusterHistogram(labels).collect()
    assert(out.map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq ==
      Seq((2L, 2L, 4L), (3L, 1L, 3L)))
  }

  test("split leakage keeps only pairs whose splits differ, order-normalized input") {
    import spark.implicits._
    val pairs = Seq(
      (1L, 2L, 0.97), // train-val → leaks
      (3L, 4L, 0.85), // train-train → clean
      (5L, 6L, 0.99)) // val-test → leaks
      .toDF("d1", "d2", "jaccard")
    val splits = Seq(
      (1L, "train"), (2L, "val"), (3L, "train"), (4L, "train"),
      (5L, "val"), (6L, "test")).toDF("doc_id", "split")
    val out = Dedup.splitLeakage(pairs, splits).collect()
    assert(out.map(r => (r.getLong(0), r.getLong(1), r.getString(3), r.getString(4)))
      .toSeq == Seq((1L, 2L, "train", "val"), (5L, 6L, "val", "test")))
  }

  test("split leakage on the corpus: exact dups never leak (content-hash splits)") {
    val sf = "/root/testdata/sf0.001"
    val leaks = Dedup.q123SplitLeakage(spark, sf).collect()
    // identical text → identical md5 bucket → same split, by construction
    assert(leaks.forall(_.getDouble(2) < 1.0),
      "a jaccard-1.0 pair crossed splits — content-hash invariant broken")
  }

  test("quality keeper election: best-quality member wins, ties fall to lowest id") {
    import spark.implicits._
    // group A = {1,2,3} with doc 3 the best; group B = {7,8} tied → 7
    val labels = Seq((1L, 1L), (2L, 1L), (3L, 1L), (7L, 7L), (8L, 7L))
      .toDF("doc_id", "grp")
    val quality = Seq((1L, 4000L), (2L, 5500L), (3L, 9000L),
      (7L, 6000L), (8L, 6000L)).toDF("doc_id", "q_micro")
    val out = Dedup.electKeepers(labels, quality).collect()
      .map(r => r.getLong(0) -> (r.getLong(2), r.getBoolean(3))).toMap
    assert(out(1L) == (3L, false) && out(2L) == (3L, false) && out(3L) == (3L, true),
      "group A keeps its highest-quality member, not min-id")
    assert(out(7L) == (7L, true) && out(8L) == (7L, false),
      "quality tie breaks to the lowest doc_id")
  }

  test("q131 on the corpus: group-consistent, one keeper per group, same groups as q38") {
    val rows = Dedup.q131QualityKeeper(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getBoolean(3)))
    val byGrp = rows.groupBy(_._2)
    byGrp.foreach { case (g, members) =>
      assert(members.map(_._3).distinct.length == 1, s"group $g split its keeper")
      assert(members.count(_._4) == 1, s"group $g keeper count != 1")
      assert(members.exists(m => m._1 == m._3), s"group $g keeper outside group")
    }
    // identical group structure to the min-id election (only the keeper
    // RULE differs)
    val q38 = Dedup.q38DedupApply(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    rows.foreach { case (id, grp, _, _) =>
      assert(q38(id) == grp, s"doc $id group drifted between q38 and q131")
    }
  }

  test("q147: threshold sweep reconciles with q26 at 0.6 and is monotone in τ") {
    val out = Dedup.q147DedupSensitivity(spark, sf).collect()
      .map(r => (r.getDouble(0), r.getLong(1), r.getLong(2))).sortBy(_._1)
    assert(out.map(_._1).toSeq == Dedup.SweepThresholds)
    val q26 = Dedup.q26NgramJaccard(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val at06 = out.find(_._1 == 0.6).get
    assert(at06._2 == q26.length.toLong, s"0.6 pair count ${at06._2} != q26 ${q26.length}")
    assert(at06._3 == q26.flatMap(p => Seq(p._1, p._2)).distinct.length.toLong)
    // tightening the threshold can only shrink both counts
    assert(out.map(_._2).toSeq == out.map(_._2).sortBy(-_).toSeq, "pairs not monotone")
    assert(out.map(_._3).toSeq == out.map(_._3).sortBy(-_).toSeq, "docs not monotone")
  }

  test("q142 containment: quoted subset flagged even where Jaccard sees nothing") {
    import spark.implicits._
    val small = (1 to 10).map(i => s"w$i").mkString(" ")
    val big = ((1 to 10) ++ (11 to 60)).map(i => s"w$i").mkString(" ")
    val other = (100 to 140).map(i => s"x$i").mkString(" ")
    val docs = Seq((1L, small), (2L, big), (3L, other)).toDF("doc_id", "text")
    val sigs = Dedup.sigsOf(docs)
    val out = Dedup.containmentPairs(sigs, Dedup.ContainMicros, Dedup.ContainMinShingles)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // the quote is fully contained: C = 1.0, directed small → big
    assert(out.toSeq == Seq((1L, 2L, 1000000L)))
    // the same pair is invisible to Jaccard at any near-dup threshold
    val j = Dedup.jaccardPairs(sigs, 0.0).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    assert(j((1L, 2L)) < 0.2, s"jaccard ${j((1L, 2L))} not small — fixture broken")
    // corpus run: the planted full-containment near-dups surface
    val corpus = Dedup.q142Containment(spark, sf).collect()
    assert(corpus.nonEmpty)
    assert(corpus.forall(_.getLong(2) >= Dedup.ContainMicros))
  }

  test("q160: normalized dedup catches case/whitespace variants raw md5 misses") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // planted corpus: 1+2 are raw-identical; 3 differs only by case and
    // space runs (q24 misses it, q160 must catch it); 4 is genuinely new
    val docs = Seq(
      (1L, "spark joins fast"),
      (2L, "spark joins fast"),
      (3L, "Spark  JOINS   fast"),
      (4L, "something else"))
      .toDF("doc_id", "text")
    val clusters = docs
      .select(col("doc_id"), md5(Dedup.normalized(col("text"))).as("fp"),
        graft.operators.TextOps.fingerprint(col("text")).as("raw_fp"))
      .groupBy("fp")
      .agg(count(lit(1)).as("copies"), min(col("doc_id")).as("keeper"),
        countDistinct(col("raw_fp")).as("n_raw_variants"))
      .filter(col("copies") > 1).collect()
    assert(clusters.length == 1)
    assert(clusters(0).getLong(1) == 3L, "all three variants collapse")
    assert(clusters(0).getLong(2) == 1L, "keeper = min doc_id")
    assert(clusters(0).getLong(3) == 2L, "two raw variants inside — the q24 miss")
    // corpus run: every q24 raw cluster is contained in some q160 cluster
    val raw = Dedup.q24DedupExact(spark, sf).collect().map(_.getLong(1)).sum
    val norm = Dedup.q160NormalizedDedup(spark, sf).collect()
    assert(norm.map(_.getLong(1)).sum >= raw,
      "normalized clusters cover at least the raw duplicate mass")
  }

  test("q165: directed containment names the mirror; corpus grid reconciles with q120 counts") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // planted asymmetry: srcSmall's one doc is wholly quoted inside
    // srcBig's doc — containment 1.0 small→big, far less big→small,
    // Jaccard blind to the direction
    val small = "alpha beta gamma delta epsilon zeta eta theta"
    val big = small + " iota kappa lambda mu nu xi omicron pi rho sigma tau upsilon"
    val docs = Seq((1L, small, "srcSmall"), (2L, big, "srcBig"))
      .toDF("doc_id", "text", "source")
    val srcSh = docs.select(col("source"), explode(Dedup.shingleArray(col("text"))).as("s")).distinct()
    val n = srcSh.groupBy("source").agg(count(lit(1)).as("n_sh"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val inter = srcSh.as("a").join(srcSh.as("b"),
      col("a.s") === col("b.s") && col("a.source") =!= col("b.source"))
      .filter(col("a.source") === "srcSmall").count()
    assert(inter == n("srcSmall"), "every small-source shingle is inside the big source")
    assert(n("srcBig") > n("srcSmall") * 2, "big source genuinely bigger")
    // corpus run: grid complete, directions reconcile with set sizes
    val rows = Dedup.q165SourceContainment(spark, sf).collect()
    val srcs = rows.map(_.getString(0)).distinct
    assert(rows.length == srcs.length * (srcs.length - 1), "full ordered grid")
    rows.foreach { r =>
      val (nFrom, shared, cm) = (r.getLong(2), r.getLong(3), r.getLong(4))
      assert(shared <= nFrom, "intersection bounded by the contained side")
      assert(cm == shared * 1000000L / nFrom, "containment arithmetic")
      assert(r.getBoolean(5) == (cm >= Dedup.SourceContainMicros))
    }
    // symmetry of the shared count, asymmetry of the ratio: for every
    // (a, b), n_shared(a→b) == n_shared(b→a)
    val byPair = rows.map(r => (r.getString(0), r.getString(1)) -> r.getLong(3)).toMap
    byPair.foreach { case ((a, b), s) => assert(byPair((b, a)) == s) }
  }

  test("q154: sketch estimate replays driver-side; gate holds; signatures merge") {
    import java.security.MessageDigest
    def h48(k: Int, s: String): Long = {
      val hex = MessageDigest.getInstance("MD5").digest(s"$k:$s".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.take(12)
      java.lang.Long.parseLong(hex, 16)
    }
    // driver-side per-source distinct shingle sets from raw text
    val docs = graft.core.Tables.documents(spark, sf)
      .select("source", "text").collect()
      .map(r => (r.getString(0), Option(r.getString(1)).getOrElse("")))
    def shinglesOf(t: String): Set[String] = {
      val w = t.split(" ").filter(_.nonEmpty)
      (1 to math.max(w.length - 4, 1)).map(i => w.slice(i - 1, i + 4).mkString(" ")).toSet
    }
    val bySrc = docs.groupBy(_._1).view
      .mapValues(_.map(d => shinglesOf(d._2)).reduce(_ ++ _)).toMap
    val sig = bySrc.view.mapValues { sh =>
      (0 until Dedup.SketchPerms).map(k => sh.map(h48(k, _)).min).toVector
    }.toMap
    val rows = Dedup.q154SourceSketch(spark, sf).collect()
    assert(rows.length == bySrc.size * (bySrc.size - 1) / 2, "full pair grid")
    rows.foreach { r =>
      val (a, b) = (r.getString(0), r.getString(1))
      val matches = sig(a).zip(sig(b)).count { case (x, y) => x == y }
      assert(r.getLong(2) == matches * (1000000L / Dedup.SketchPerms), s"($a,$b) estimate")
      val inter = (bySrc(a) & bySrc(b)).size.toLong
      val uni = (bySrc(a) | bySrc(b)).size.toLong
      assert(r.getLong(3) == inter * 1000000L / uni, s"($a,$b) exact")
      assert(r.getBoolean(4) == (math.abs(r.getLong(2) - r.getLong(3)) <= Dedup.SketchTolMicro))
    }
    // the gate itself holds everywhere on the fixture corpus
    assert(rows.forall(_.getBoolean(4)), "sketch deviates beyond tolerance")
    // mergeability: the union-set signature IS the elementwise min of the
    // members' signatures — the property that makes the sketch a one-scan
    // mergeable aggregate (and incrementally maintainable)
    val (s1, s2) = (bySrc.keys.head, bySrc.keys.last)
    val merged = (0 until Dedup.SketchPerms)
      .map(k => (bySrc(s1) ++ bySrc(s2)).map(h48(k, _)).min).toVector
    assert(merged == sig(s1).zip(sig(s2)).map { case (x, y) => math.min(x, y) }.toVector)
  }

  test("q171: edit verification replays the Levenshtein recurrence bit-for-bit") {
    // reference DP, driver-side — the ground truth the engine column
    // (and the DuckDB oracle) must both equal
    def lev(a: String, b: String): Long = {
      val prev = Array.tabulate(b.length + 1)(_.toLong)
      val cur = new Array[Long](b.length + 1)
      for (i <- 1 to a.length) {
        cur(0) = i.toLong
        for (j <- 1 to b.length) {
          val sub = prev(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1)
          cur(j) = math.min(math.min(prev(j) + 1, cur(j - 1) + 1), sub)
        }
        Array.copy(cur, 0, prev, 0, cur.length)
      }
      prev(b.length)
    }
    val norm = graft.core.Tables.documents(spark, sf)
      .select(org.apache.spark.sql.functions.col("doc_id"),
        org.apache.spark.sql.functions.lower(
          org.apache.spark.sql.functions.regexp_replace(
            org.apache.spark.sql.functions.trim(
              org.apache.spark.sql.functions.col("text")), " +", " ")).as("nx"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val rows = Dedup.q171EditVerifiedDedup(spark, sf).collect()
    assert(rows.nonEmpty, "fixture should contain verified near-dup pairs")
    // pair list == q27's verified pairs (the verify stage adds columns,
    // never adds or drops pairs)
    val q27 = Dedup.q27MinhashLsh(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(rows.map(r => (r.getLong(0), r.getLong(1))).toSet == q27)
    rows.foreach { r =>
      val (d1, d2) = (r.getLong(0), r.getLong(1))
      val (n1, n2) = (norm(d1), norm(d2))
      val d = lev(n1, n2)
      val maxlen = math.max(n1.length, n2.length).toLong
      val simMicro = (maxlen - d) * 1000000L / maxlen
      assert(r.getLong(3) == d, s"($d1,$d2) edit_dist")
      assert(r.getLong(4) == simMicro, s"($d1,$d2) edit_sim_micro")
      val tier =
        if (simMicro >= Dedup.EditNearExactMicros) "near_exact"
        else if (simMicro >= Dedup.EditHighMicros) "high"
        else "moderate"
      assert(r.getString(5) == tier, s"($d1,$d2) tier")
    }
    // the fixture's planted near-dups are light retouches, so the top
    // tiers must actually fire (the column isn't constant)
    assert(rows.exists(_.getString(5) == "near_exact"))
    assert(rows.exists(_.getString(5) != "near_exact"))
  }

  test("q176: sorted-neighborhood replays driver-side and finds the planted pairs") {
    def lev(a: String, b: String): Long = {
      val prev = Array.tabulate(b.length + 1)(_.toLong)
      val cur = new Array[Long](b.length + 1)
      for (i <- 1 to a.length) {
        cur(0) = i.toLong
        for (j <- 1 to b.length) {
          val sub = prev(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1)
          cur(j) = math.min(math.min(prev(j) + 1, cur(j - 1) + 1), sub)
        }
        Array.copy(cur, 0, prev, 0, cur.length)
      }
      prev(b.length)
    }
    val norm = graft.core.Tables.documents(spark, sf)
      .select(org.apache.spark.sql.functions.col("doc_id"),
        org.apache.spark.sql.functions.lower(
          org.apache.spark.sql.functions.regexp_replace(
            org.apache.spark.sql.functions.trim(
              org.apache.spark.sql.functions.col("text")), " +", " ")).as("nx"))
      .collect().map(r => r.getLong(0) -> r.getString(1))
    // driver replay of the whole procedure: sort, window, verify
    val ordered = norm.sortBy { case (id, nx) => (nx.take(Dedup.SnPrefix), id) }
    val expected = (for {
      i <- ordered.indices
      j <- (i + 1) to math.min(i + Dedup.SnWindow, ordered.length - 1)
    } yield {
      val (d1, n1) = ordered(i); val (d2, n2) = ordered(j)
      val maxlen = math.max(n1.length, n2.length).toLong
      val dist = lev(n1, n2)
      (d1, d2, dist, (maxlen - dist) * 1000000L / maxlen)
    }).filter(_._4 >= Dedup.SnSimFloorMicros)
      .map { case (d1, d2, dist, sim) => (d1, d2, dist, sim) }.toSet
    val got = Dedup.q176SortedNeighborhood(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(got == expected, s"SN replay: got ${got.size}, expected ${expected.size}")
    assert(got.nonEmpty, "fixture should contain planted near-dups in sort range")
    // blocking works on this corpus: SN recovers every LSH-verified pair
    // that clears the same edit floor (prefix retouches would break this
    // — the fixture's planted edits are mid-document)
    val q171High = Dedup.q171EditVerifiedDedup(spark, sf).collect()
      .filter(_.getLong(4) >= Dedup.SnSimFloorMicros)
      .map(r => Set(r.getLong(0), r.getLong(1))).toSet
    val gotUnordered = got.map { case (d1, d2, _, _) => Set(d1, d2) }
    assert(q171High.subsetOf(gotUnordered),
      s"SN missed LSH pairs: ${(q171High -- gotUnordered).take(3)}")
  }

  test("q215: opposed tie-breaks never elect the same doc; margins non-negative") {
    import spark.implicits._
    // group A: clear winner/loser; group B: all tied (chosen must still
    // differ from rejected); group C: one scored member only → dropped
    val labels = Seq((1L, 1L), (2L, 1L), (3L, 1L),
      (7L, 7L), (8L, 7L), (9L, 7L), (20L, 20L)).toDF("doc_id", "grp")
    val quality = Seq((1L, 4000L), (2L, 9000L), (3L, 5000L),
      (7L, 6000L), (8L, 6000L), (9L, 6000L), (20L, 1000L)).toDF("doc_id", "q_micro")
    val out = Dedup.prefPairsOver(labels, quality).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getBoolean(5)))).toMap
    assert(out(1L) == ((2L, 1L, 5000L, 3L, true)),
      "group A: best doc 2 chosen, worst doc 1 rejected, margin 5000")
    assert(out(7L) == ((7L, 9L, 0L, 3L, false)),
      "all-tied group: chosen = lowest id, rejected = highest id, uninformative")
    assert(!out.contains(20L), "single-member groups emit no pair")
    val corpus = Dedup.q215PrefPairs(spark, sf).collect()
    assert(corpus.forall(r => r.getLong(1) != r.getLong(2)),
      "chosen and rejected must differ in every corpus pair")
    assert(corpus.forall(_.getLong(3) >= 0L), "margins are non-negative")
  }

  test("q216: soft weights downweight clusters; singletons keep full weight") {
    import spark.implicits._
    // docs 1,2 form a 2-cluster (weight 0.5 each); doc 3 is a singleton
    val labels = Seq((1L, 1L), (2L, 1L)).toDF("doc_id", "keeper")
    val docs = Seq(
      (1L, "a b c d", "s1"), (2L, "a b c e", "s1"), (3L, "x y", "s1"),
      (4L, "p q r s t u", "s2"))
      .toDF("doc_id", "text", "source")
    val out = Dedup.softWeightsOver(labels, docs).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4)))).toMap
    // s1: 4·0.5 + 4·0.5 + 2·1 = 6 effective of 10 raw → tax 400000µ
    assert(out("s1") == ((3L, 10L, 6L, 400000L)), s"got ${out("s1")}")
    // s2: untouched source — effective == raw, tax 0
    assert(out("s2") == ((1L, 6L, 6L, 0L)))
    // corpus-level conservation: effective ≤ raw per source, and equal
    // wherever the source has no pair-graph member
    val corpus = Dedup.q216SoftDedupWeights(spark, sf).collect()
    assert(corpus.forall(r => r.getLong(3) <= r.getLong(2)))
  }

  test("q232: eval-leak report is total, bounded, and the q62 transpose") {
    val report = Dedup.q232EvalLeakReport(spark, sf).collect()
    val nEval = graft.core.Tables.documents(spark, sf)
      .filter(org.apache.spark.sql.functions.col("doc_id")
        % Dedup.EvalDocModulus === 0).count()
    // total: one row per eval doc, including zero-leak rows
    assert(report.length == nEval)
    assert(report.map(_.getLong(0)).distinct.length == report.length)
    report.foreach { r =>
      assert(r.getLong(3) <= r.getLong(1), "shared shingles exceed the doc's set")
      assert(r.getLong(4) >= 0 && r.getLong(4) <= 1000000L)
      // a doc can't share shingles with zero train docs and vice versa
      assert((r.getLong(2) == 0) == (r.getLong(3) == 0))
    }
    // transpose identity: q62 sees contaminated TRAIN docs iff the
    // report sees leaking EVAL docs (both ride the same shingle join)
    val q62n = Dedup.q62Decontaminate(spark, sf).count()
    assert((q62n > 0) == report.exists(_.getLong(2) > 0))
  }

  test("q230: duplicate-mass matrix reconciles with the q38 closure") {
    val labels = Dedup.q38DedupApply(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    val nonKeepers = labels.count { case (d, k) => d != k }
    val cells = Dedup.q230CrossSourceDupMatrix(spark, sf).collect()
    // every dropped doc lands in exactly one cell; token mass positive
    assert(cells.map(_.getLong(2)).sum == nonKeepers)
    assert(cells.forall(r => r.getLong(2) >= 1 && r.getLong(3) >= r.getLong(2)),
      "a cell with docs but implausible token mass")
    // the keeper side of every cell is a real keeper's source
    val srcOf = graft.core.Tables.documents(spark, sf)
      .select("doc_id", "source").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val expected = labels.toSeq.filter { case (d, k) => d != k }
      .groupBy { case (d, k) => (srcOf(k), srcOf(d)) }
      .view.mapValues(_.size.toLong).toMap
    val got = cells.map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(got == expected, "cell counts diverge from a driver replay")
  }
}
