package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

object SparkTestSession {
  lazy val spark: SparkSession = {
    val s = Graft.sessionBuilder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
  val sf: String = "/root/testdata/sf0.001"
}

/** Specs for the beyond-reference operator suite: the approximate
  * variants are asserted against their exact counterparts (the exact
  * ones are covered by the DuckDB oracle gate). */
class FunctionsSpec extends AnyFunSuite {
  import SparkTestSession._
  import graft.functions._

  test("rolling_hash matches a reference implementation and handles null") {
    import spark.implicits._
    def ref(s: String): Long =
      s.getBytes("UTF-8").foldLeft(0L)((a, b) => (a * 131 + (b & 0xff)) % 1000000007L)
    val df = Seq("", "a", "hello world", "ü-umlaut").toDF("s")
      .select(RollingHash.rolling_hash($"s").as("h"))
    assert(df.collect().map(_.getLong(0)).toSeq ==
      Seq("", "a", "hello world", "ü-umlaut").map(ref))
    val withNull = Seq[Option[String]](Some("x"), None).toDF("s")
      .select(RollingHash.rolling_hash($"s").as("h"))
    assert(withNull.collect().map(r => if (r.isNullAt(0)) None else Some(r.getLong(0))).toSeq ==
      Seq(Some(ref("x")), None))
  }

  test("staged ngram execution produces the identical pair set (all tiers, shard counts)") {
    // §8.4.3g: the disk-bounded staged mode must be semantically
    // invisible — same rows (incl. jaccard values) as the single-query
    // plan — across the FULL claimed matrix (r18 ADVICE): shards ∈
    // {1, 2, 3} (pure staging and hash-sharded union + distinct
    // dedup), each with and without the tier-0 filter
    val exact = Dedup.ddNgramJaccard(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(exact.nonEmpty, "corpus should contain planted near-dups")
    for (tier0 <- Seq(false, true); shards <- Seq(1, 2, 3)) {
      if (tier0) spark.conf.set("graft.ngram.mhPrefixSlots", "16")
      try {
        val dir = s"target/test-ngram-staged-$shards-t$tier0"
        val staged = Dedup.ddNgramJaccardStaged(spark, sf,
            stageDir = dir, shards = shards)
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
        assert(staged == exact, s"shards=$shards tier0=$tier0: " +
          s"missing ${exact -- staged}, extra ${staged -- exact}")
      } finally if (tier0) spark.conf.unset("graft.ngram.mhPrefixSlots")
    }
  }

  test("staged ngram cleans up eagerly, marks its dir, and refuses foreign dirs") {
    import org.apache.hadoop.fs.Path
    val stage = "target/test-ngram-staged-hygiene"
    val fs = new Path(stage)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new Path(stage), true)
    val frame = Dedup.ddNgramJaccardStaged(spark, sf, stageDir = stage,
      shards = 2)
    assert(frame.count() > 0)
    // r18 verdict #3: only pairs/ (+ the ownership marker) survives the
    // invocation — joinable/ and prefix/ are ~2/3 of the staged
    // footprint and the mode exists BECAUSE disk is the constraint.
    // Since round 20 each invocation owns a run-NNNNNN/ subdir.
    val entries = fs.listStatus(new Path(stage)).map(_.getPath.getName).toSet
    assert(entries == Set("run-000001", "_graft_stage"),
      s"only the run dir and the marker may sit at the top level: $entries")
    val runEntries = fs.listStatus(new Path(stage, "run-000001"))
      .map(_.getPath.getName).toSet
    assert(runEntries == Set("pairs"),
      s"only pairs/ may outlive the invocation inside its run dir: $runEntries")
    // a later invocation on the marked dir is allowed to write there
    assert(Dedup.ddNgramJaccardStaged(spark, sf, stageDir = stage,
      shards = 1).count() > 0)
    // a non-empty UNMARKED dir is refused, not destroyed (r18 ADVICE:
    // a mistyped stageDir pointing at data must survive the mistake)
    val foreign = "target/test-ngram-staged-foreign"
    fs.delete(new Path(foreign), true)
    fs.mkdirs(new Path(foreign))
    fs.create(new Path(foreign, "precious.parquet")).close()
    val e = intercept[IllegalArgumentException] {
      Dedup.ddNgramJaccardStaged(spark, sf, stageDir = foreign, shards = 1)
    }
    assert(e.getMessage.contains("refusing to clear"), e.getMessage)
    assert(fs.exists(new Path(foreign, "precious.parquet")),
      "the foreign dir's contents must be untouched")
    // pre-marker r18 residue (all three flat stage dirs, joinable
    // present) is grandfathered: cleared and re-staged, not refused
    val legacy = "target/test-ngram-staged-legacy"
    fs.delete(new Path(legacy), true)
    Seq("joinable", "prefix", "pairs").foreach(d =>
      fs.mkdirs(new Path(legacy, d)))
    assert(Dedup.ddNgramJaccardStaged(spark, sf, stageDir = legacy,
      shards = 1).count() > 0)
    assert(!fs.exists(new Path(legacy, "joinable")),
      "legacy flat-layout residue must be reclaimed at entry")
    assert(fs.exists(new Path(legacy, "run-000001/pairs")))
  }

  test("per-run staging keeps the previous invocation's frame alive (r19 verdict #4)") {
    import org.apache.hadoop.fs.Path
    val stage = "target/test-ngram-staged-runs"
    val fs = new Path(stage)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new Path(stage), true)
    val first = Dedup.ddNgramJaccardStaged(spark, sf, stageDir = stage,
      shards = 2)
    val n1 = first.count()
    assert(n1 > 0)
    val second = Dedup.ddNgramJaccardStaged(spark, sf, stageDir = stage,
      shards = 1)
    // the r19 ADVICE foot-gun: this collect used to read files the
    // second invocation had already deleted
    assert(first.count() == n1,
      "a returned frame must survive the NEXT invocation on the same dir")
    assert(second.count() == n1)
    // disk bound: at most two runs coexist — entry of run 3 reclaims
    // run 1 (the one whose handle is now two invocations stale)
    assert(fs.exists(new Path(stage, "run-000001")))
    val third = Dedup.ddNgramJaccardStaged(spark, sf, stageDir = stage,
      shards = 1)
    assert(!fs.exists(new Path(stage, "run-000001")),
      "entry of run N must reclaim runs older than N-1")
    assert(fs.exists(new Path(stage, "run-000002")))
    assert(third.count() == n1)
  }

  test("staged cluster composition produces identical components") {
    // round 20 (r19 verdict #3): dd_cluster's scale wall is pair
    // generation — the staged composition must be label-identical
    def key(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val exact = key(Dedup.ddCluster(spark, sf))
    assert(exact.nonEmpty, "corpus should contain near-dup clusters")
    val staged = key(Dedup.ddClusterStaged(spark, sf,
      stageDir = "target/test-cluster-staged"))
    assert(staged == exact,
      s"missing ${exact -- staged}, extra ${staged -- exact}")
  }

  test("minhash LSH finds exactly the exact-jaccard near-dup pairs") {
    val exact = Dedup.ddNgramJaccard(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Dedup.ddMinhashLsh(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.nonEmpty, "corpus should contain planted near-dups")
    // LSH verification filters candidates by the same exact jaccard, so
    // lsh ⊆ exact always; recall should be total at j ≥ 0.5 with 16×2 bands.
    assert(lsh == exact, s"LSH recall gap: missing ${exact -- lsh}")
  }

  test("minhash bucket cap drops degenerate bands without losing true pairs") {
    import org.apache.spark.sql.functions._
    // corpus-wide boilerplate makes some band hashes degenerate (their
    // buckets approach corpus size); a tight cap must drop those
    // buckets' quadratic candidates while every true pair still
    // surfaces through healthy content bands
    // the ScaleSmoke construction at test scale: 10 copies with per-copy
    // token prefixes (fresh shingle vocabulary per copy — the corpus
    // GROWS) plus a SHARED small boilerplate suffix on copies >= 1. The
    // boilerplate contributes only ~3 of ~60 union shingles per cross
    // pair (j << 0.5 — it can never CREATE a true pair) but captures
    // some bands' minhash slots across 4500 docs, turning those buckets
    // degenerate. The cap must drop their quadratic candidates without
    // losing any verified pair.
    val base = Tables.t(spark, sf, "documents").select("doc_id", "text")
    val n = base.count()
    val replicated = base
      .crossJoin(spark.range(10).select(col("id").as("copy")))
      .select((col("doc_id") + col("copy") * n).as("doc_id"),
        when(col("copy") === 0, col("text"))
          .otherwise(concat(array_join(transform(split(col("text"), " "),
            t => concat(lit("v"), col("copy"), lit("·"), t)), " "),
            lit(" legal notice all rights reserved"))).as("text"))
    val docs = replicated
      .select(col("doc_id"), Dedup.shingles(col("text")).as("shs"))
    val uncapped = Dedup.minhashCandidates(docs, maxBucket = Int.MaxValue)
    val capped = Dedup.minhashCandidates(docs, maxBucket = 64)
    val nUncapped = uncapped.count()
    val nCapped = capped.count()
    assert(nCapped < nUncapped / 2,
      s"cap must prune the degenerate-band candidates: $nCapped vs $nUncapped")
    val truthFrom = (c: org.apache.spark.sql.DataFrame) =>
      Dedup.exactVerify(c, docs).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val truthUncapped = truthFrom(uncapped)
    assert(truthUncapped.nonEmpty, "corpus should contain planted near-dups")
    assert(truthFrom(capped) == truthUncapped,
      "capping degenerate buckets must not lose verified pairs")
  }

  test("mhPrefix tier-0 keeps high-jaccard candidates, discards disjoint ones") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // identical pair (1,2): all 16 slots match -> survives any threshold;
    // disjoint pair (3,4): a slot matches only on an xxhash64 collision
    // (p ~ 2^-64 per slot) -> discarded; near-dup pair (5,6) sharing
    // most tokens: expected matches ~ j*16 >> 2 -> survives
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta"),
      (2L, "alpha beta gamma delta epsilon zeta eta theta"),
      (3L, "one two three four five six seven eight"),
      (4L, "nine ten eleven twelve thirteen fourteen fifteen sixteen"),
      (5L, "alpha beta gamma delta epsilon zeta eta iota"),
      (6L, "alpha beta gamma delta epsilon zeta eta kappa"))
      .toDF("doc_id", "text")
      .select(col("doc_id"), Dedup.shingles(col("text")).as("shs"))
    val cand = Seq((1L, 2L), (3L, 4L), (5L, 6L)).toDF("doc_a", "doc_b")
    val kept = Dedup.mhPrefixFilter(cand, docs, slots = 16)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(kept == Set((1L, 2L), (5L, 6L)),
      s"tier-0 must keep the near-dup candidates and drop the disjoint one: $kept")
  }

  test("simhash near-dup pairs cover the high-jaccard pairs") {
    val exact = Dedup.ddNgramJaccard(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val sim = Dedup.ddSimhash(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (exact & sim).size.toDouble / exact.size
    // measured floor: 0.9286 at sf0.001, 0.9200 at sf0.01 (4×16-bit
    // chunks, Hamming ≤ 6) — pinned so a chunking change can't silently
    // degrade recall the way the 0.8 floor pins ss_ivf_topk
    assert(recall >= 0.92, s"simhash recall $recall over ${exact.size} pairs")
    // the default at gate SF must be the 16-bit chunk plan (the corpus
    // is far below the wide-band switch), keeping the driver's
    // rows-only check byte-stable across the round-7 band refactor
    val chunk = Dedup.ddSimhash(spark, sf, wideBands = false).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(sim == chunk, "default banding changed at gate SF")
  }

  test("simhash wide (8,4) banding holds the recall floor with fewer candidates") {
    // the >10M-doc scale plan: C(8,4)=70 tables of 32-bit keys
    // (Manku/Jain/Sarma block design, Hamming ≤ 4 pigeonhole-complete
    // vs the chunk plan's ≤ 3). Same 0.92 recall floor as the default
    // plan — measured 0.9286 at sf0.001, 0.96 at sf0.01 — so the
    // corpus-size switch never degrades below the published spec.
    val exact = Dedup.ddNgramJaccard(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val wide = Dedup.ddSimhash(spark, sf, wideBands = true).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (exact & wide).size.toDouble / exact.size
    assert(recall >= 0.92, s"wide-band recall $recall over ${exact.size} pairs")
    // every emitted pair passed the exact Hamming ≤ 6 verify, and the
    // 32-bit keys must cut the candidate set well below the 16-bit
    // chunk join's even at this corpus size (measured 393 vs 2459)
    val candChunk = Dedup.simhashCandidates(spark, sf, wideBands = false).count()
    val candWide = Dedup.simhashCandidates(spark, sf, wideBands = true).count()
    assert(candWide * 2 < candChunk,
      s"wide banding should shrink candidates: $candWide vs $candChunk")
  }

  test("dd_embed_cosine's bucketed route recovers planted near-dup pairs") {
    import spark.implicits._
    // the >2^16-vector route blocks pairs by IVF cell; its job is
    // finding NEAR-DUPLICATE vectors (cos ≈ 1), not reproducing the
    // noise-floor ordering of random pairs (the sf corpora have no
    // pair above cos 0.52, where any blocking method legitimately
    // scatters ties). Plant 20 true near-dup pairs (relative noise
    // 1e-2) among 160 random 32-dim vectors and require BOTH routes
    // to surface every planted pair in the top-40. Fixed seed →
    // deterministic.
    val rnd = new scala.util.Random(7)
    def vec(): Array[Float] = Array.fill(32)(rnd.nextGaussian().toFloat)
    val bases = (0 until 20).map(_ => vec())
    val planted = bases.zipWithIndex.flatMap { case (v, i) =>
      val dup = v.map(x => x + 0.01f * rnd.nextGaussian().toFloat)
      Seq((2L * i, v), (2L * i + 1, dup))
    }
    val noise = (0 until 160).map(i => (40L + i, vec()))
    val d = java.nio.file.Files.createTempDirectory("embed-route").toString
    (planted ++ noise).toDF("vec_id", "embedding")
      .withColumn("label", org.apache.spark.sql.functions.lit(0))
      .write.mode("overwrite").parquet(s"$d/embeddings.parquet")
    val expect = (0 until 20).map(i => (2L * i, 2L * i + 1)).toSet
    def top40(exactMax: Long) = Dedup.ddEmbedCosine(spark, d, exactMax)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = top40(Long.MaxValue)
    assert(expect.subsetOf(exact), s"exact route missed ${expect -- exact}")
    val bucketed = top40(0L)
    assert(expect.subsetOf(bucketed),
      s"bucketed route missed ${expect -- bucketed}")
  }

  test("dd_embed_cosine caps mega-cells and still surfaces their top pairs") {
    import spark.implicits._
    // an exact-duplicate blob (failed encodes, constant embeddings) is
    // the one shape that defeats data-sampled centroids: every member
    // ties at cos = 1.0 and collapses into the min-c_id cell. With a
    // tiny maxCell the blob must be hash-sharded — the operator
    // completes with bounded per-cell work and the top-40 still comes
    // back all-duplicate pairs (every shard of a mega-cell is full of
    // its top pairs)
    val rnd = new scala.util.Random(11)
    val blob = (0 until 300).map(i =>
      (i.toLong, Array.fill(32)(0.5f)))
    val noise = (0 until 60).map(i =>
      (300L + i, Array.fill(32)(rnd.nextGaussian().toFloat)))
    val d = java.nio.file.Files.createTempDirectory("embed-megacell").toString
    (blob ++ noise).toDF("vec_id", "embedding")
      .withColumn("label", org.apache.spark.sql.functions.lit(0))
      .write.mode("overwrite").parquet(s"$d/embeddings.parquet")
    val rows = Dedup.ddEmbedCosine(spark, d, exactMax = 0, maxCell = 32)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(rows.length == 40, s"expected a full top-40, got ${rows.length}")
    assert(rows.forall(_._3 == 1.0),
      s"mega-cell shards must keep scoring duplicate pairs: ${rows.take(5).toSeq}")
    assert(rows.forall { case (a, b, _) => a < 300 && b < 300 },
      s"top pairs must come from the duplicate blob")
  }

  test("IVF top-k achieves reasonable recall vs brute force") {
    val exact = Similarity.ssCosineTopK(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val ivf = Similarity.ssIvfTopK(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (exact & ivf).size.toDouble / exact.size
    assert(recall >= 0.8, s"IVF recall $recall")
  }

  test("int8-quantized top-k recalls most of the exact top-k") {
    val exact = Similarity.ssCosineTopK(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val quant = Similarity.ssQuantizedTopK(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (exact & quant).size.toDouble / exact.size
    assert(recall >= 0.8, s"quantized recall $recall")
  }

  test("HLL++ sketch cardinality stays within 5% of the exact distinct count") {
    // q17 gates the EXACT count; the sketch path (approx_count_distinct)
    // is the 100 TB form — one pass, fixed memory, no distinct shuffle.
    import org.apache.spark.sql.functions._
    val e = Tables.t(spark, sf, "events")
    val exact = e.groupBy("event_type")
      .agg(countDistinct(col("user_id")).as("exact"))
    val approx = e.groupBy("event_type")
      .agg(approx_count_distinct(col("user_id"), 0.02).as("approx"))
    exact.join(approx, "event_type").collect().foreach { r =>
      val (ex, ap) = (r.getLong(1), r.getLong(2))
      assert(math.abs(ap - ex).toDouble / ex <= 0.05, s"${r.getString(0)}: $ap vs $ex")
    }
  }

  test("exact dedup groups are symmetric and canonical is the min member") {
    val rows = Dedup.ddExact(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.groupBy(_.getLong(1)).foreach { case (canon, members) =>
      assert(members.map(_.getLong(0)).min == canon)
      assert(members.length >= 2)
    }
  }

  test("near-dup clusters are closed over the pair graph, labeled by min") {
    val pairs = Dedup.ddNgramJaccard(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val clusters = Dedup.ddCluster(spark, sf).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(clusters.nonEmpty)
    // every paired doc is clustered, and both ends share a cluster
    pairs.foreach { case (a, b) =>
      assert(clusters(a)._1 == clusters(b)._1, s"pair ($a,$b) split across clusters")
    }
    // the label is the component's min member; sizes are consistent
    clusters.groupBy(_._2._1).foreach { case (label, members) =>
      assert(members.keys.min == label)
      assert(members.values.forall(_._2 == members.size))
      assert(members.size >= 2)
    }
  }

  test("mixture sampling hits each source's keep fraction deterministically") {
    val kept = TextAnalysis.taMixture(spark, sf).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getInt(2)))
    assert(kept.nonEmpty)
    // src0 keeps everything; src3 keeps ~10%; fractions within tolerance
    val bySource = kept.groupBy(_._2).view.mapValues(_.length).toMap
    val total = Tables.t(spark, sf, "documents")
      .groupBy("source").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(bySource("src0") == total("src0"), "src0 must keep 100%")
    val src3Frac = bySource.getOrElse("src3", 0).toDouble / total("src3")
    assert(src3Frac <= 0.5, s"src3 keeps $src3Frac, target 0.10")
    // stable across invocations
    val again = TextAnalysis.taMixture(spark, sf).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getInt(2)))
    assert(kept.toSeq == again.toSeq)
  }

  test("hash split is deterministic with ~90/5/5 fractions, shuffle is a permutation") {
    import org.apache.spark.sql.functions.col
    val split = TextAnalysis.taSplit(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getString(2)).toMap
    val n = split.size.toDouble
    val train = split.values.count(_ == "train") / n
    assert(train > 0.8 && train < 0.97, s"train fraction $train")
    // stable across invocations (pure function of doc_id)
    val again = TextAnalysis.taSplit(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getString(2)).toMap
    assert(split == again)

    val sh = TextAnalysis.taShuffle(spark, sf).collect()
    assert(sh.map(_.getLong(0)).toSeq == (1L to sh.length.toLong))
    assert(sh.map(_.getLong(1)).toSet == split.keySet) // a permutation
    // and not the identity order (it actually shuffles)
    assert(sh.map(_.getLong(1)).toSeq != sh.map(_.getLong(1)).toSeq.sorted)
  }

  test("repeated-span fractions are bounded and the corpus has shared spans") {
    val rows = Dedup.ddSpan(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(rows.map(_._1).distinct.length == rows.length, "one row per doc")
    rows.foreach { case (id, n, dup, bp) =>
      assert(dup >= 0 && dup <= n, s"doc $id: $dup of $n spans")
      assert(bp >= 0 && bp <= 10000, s"doc $id: dup_bp $bp")
      assert(n == 0 || bp == 10000 * dup / n, s"doc $id: bp math")
    }
    // planted near-dups share verbatim 5-gram spans
    assert(rows.exists(_._3 > 0), "no cross-document spans found")
  }

  test("cdc chunks are bounded, cover every doc, and find shared chunks") {
    val rows = Dedup.ddCdc(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val nDocs = Tables.t(spark, sf, "documents").count()
    assert(rows.length == nDocs.toInt, "one row per document")
    rows.foreach { case (id, n, dup, bp) =>
      assert(n >= 1, s"doc $id must chunk to >= 1 piece")
      assert(dup >= 0 && dup <= n && bp >= 0 && bp <= 10000, s"doc $id bounds")
    }
    // the corpus plants near-dup docs, which share verbatim chunks
    assert(rows.exists(_._3 > 0), "no cross-document chunks found")
    // expected chunk length ~16 tokens => docs average > 1 chunk
    assert(rows.map(_._2).sum > rows.length, "chunking is degenerate")
  }

  test("vocab coverage is monotone and complete when vocab fits the cut") {
    val rows = TextAnalysis.taVocab(spark, sf).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3),
        r.getLong(4)))
    assert(rows.map(_._1).toSeq == (1L to rows.length), "contiguous ranks")
    assert(rows.map(_._5).toSeq == rows.map(_._5).toSeq.sorted,
      "cumulative coverage must be non-decreasing")
    val tfs = rows.map(_._3)
    assert(tfs.toSeq == tfs.toSeq.sortBy(-_), "ranked by tf desc")
    // the synthetic vocabulary is far smaller than the top-1000 cut, so
    // the final row covers the whole corpus exactly
    assert(rows.length < 1000 && rows.last._5 == 10000L)
    rows.foreach { case (_, _, tf, ddf, _) =>
      assert(ddf >= 1 && ddf <= tf, "df bounded by tf and positive")
    }
  }

  test("vocab top-k cut binds when the vocabulary exceeds k") {
    val full = TextAnalysis.taVocab(spark, sf).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(4)))
    assert(full.length > 10, "need a vocabulary larger than the cut")
    val cut = TextAnalysis.taVocab(spark, sf, k = 10).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(4)))
    assert(cut.length == 10, "the TakeOrdered cut must bind at k=10")
    // the cut returns the GLOBAL top-10 with identical ranks, tfs and
    // cumulative coverage — not an arbitrary 10-row sample
    assert(cut.toSeq == full.take(10).toSeq,
      "top-k rows must agree with the full ranking's prefix")
    assert(cut.last._4 < 10000L,
      "a binding cut cannot reach full corpus coverage")
  }

  test("linear quality scores are deterministic, bounded, and sign-consistent") {
    val a = TextAnalysis.taQualityLr(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getString(4)))
    val b = TextAnalysis.taQualityLr(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getString(4)))
    assert(a.toSeq == b.toSeq, "hash-derived weights must be reproducible")
    a.foreach { case (id, n, s, bp, label) =>
      assert(n > 0 && s.abs <= 1000 * n, s"doc $id: |w_sum| bound")
      assert(bp >= 0 && bp <= 10000, s"doc $id: quality_bp $bp")
      assert(label == (if (s > 0) "keep" else "drop"), s"doc $id label")
    }
    // weights are hash-symmetric around 0, so both classes appear
    assert(a.map(_._5).distinct.length == 2, "degenerate classifier")
  }

  test("label centroids cover every (label, dim) cell with consistent counts") {
    val rows = Similarity.ssCentroids(spark, sf).collect()
      .map(r => (String.valueOf(r.get(0)), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4)))
    val dims = rows.map(_._2).max
    val byLabel = rows.groupBy(_._1)
    byLabel.foreach { case (label, cells) =>
      assert(cells.length == dims, s"label $label must cover all $dims dims")
      assert(cells.map(_._3).distinct.length == 1,
        s"label $label: n_vecs must agree across dims")
    }
    val totalVecs = rows.filter(_._2 == 1).map(_._3).sum
    assert(totalVecs == Tables.t(spark, sf, "embeddings").count())
    rows.foreach { case (_, _, n, s, c) =>
      assert(c == (if (s >= 0) s / n else -((-s) / n)), "truncated mean")
    }
  }

  test("curation dispositions agree with the standalone operators") {
    val cur = TextAnalysis.taCurate(spark, sf).collect()
      .map(r => r.getLong(0) -> (r.getString(1), r.getLong(2),
        if (r.isNullAt(5)) null else r.getString(5))).toMap
    // every non-canonical member of an exact-dup group is dropped as such
    val exactDups = Dedup.ddExact(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).filter(p => p._1 != p._2)
    assert(exactDups.nonEmpty)
    exactDups.foreach { case (doc, canon) =>
      assert(cur(doc) == (("exact_dup", canon, null)), s"doc $doc")
    }
    // kept docs carry the same split taSplit assigns; dropped carry none
    val splits = TextAnalysis.taSplit(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getString(2)).toMap
    cur.foreach { case (doc, (disp, _, split)) =>
      if (disp == "keep") assert(split == splits(doc), s"doc $doc split")
      else assert(split == null, s"doc $doc: dropped rows get no split")
    }
    val kept = cur.values.count(_._1 == "keep").toDouble / cur.size
    assert(kept > 0.5 && kept < 1.0, s"kept fraction $kept")
  }

  test("corpus report shards partition the corpus with shares near 10000 bp") {
    val rows = TextAnalysis.taReport(spark, sf).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5)))
    val nDocs = Tables.t(spark, sf, "documents").count()
    assert(rows.map(_._3).sum == nDocs, "shard doc counts must partition")
    val shareSum = rows.map(_._6).sum
    // each shard share floors individually: sum ∈ (10000 - #shards, 10000]
    assert(shareSum <= 10000 && shareSum > 10000 - rows.length,
      s"share sum $shareSum over ${rows.length} shards")
    rows.foreach { case (src, lang, d, toks, chars, _) =>
      assert(d > 0 && toks >= d && chars >= toks, s"($src,$lang) magnitudes")
    }
  }
}
