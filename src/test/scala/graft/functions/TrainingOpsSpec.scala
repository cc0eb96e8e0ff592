package graft.functions

import org.apache.spark.sql.functions._
import graft.SparkSpec

/** Unit specs for the round-5 training-data operators, on handcrafted
  * corpora with pencil-derivable expectations — the oracle queries
  * verify them against DuckDB at three scales; these pin the SEMANTICS
  * on inputs small enough to check by hand. */
class TrainingOpsSpec extends SparkSpec {

  test("spanDedup: duplicated k-token span keeps only its first occurrence") {
    import spark.implicits._
    // k=3; docs 1 and 2 share the span "a b c"; doc 3 is clean.
    // doc 1: "a b c x"  → spans {a b c, b c x} — both unique-first
    // doc 2: "y a b c"  → span "a b c" at start 1 duplicates doc 1's
    //        start 0 → tokens 1,2,3 masked → only "y" survives
    // doc 3: "p q r"    → its one span is unique
    val docs = Seq(
      (1L, "a b c x"),
      (2L, "y a b c"),
      (3L, "p q r")).toDF("doc_id", "text")
    val out = Dedup.spanDedup(docs, "text", "doc_id", k = 3)
      .orderBy("doc_id")
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
    assert(out === Seq(
      (1L, "a b c x", 4L, 0L),
      (2L, "y", 4L, 3L),
      (3L, "p q r", 3L, 0L)))
    Dedup.releaseCaches()
  }

  test("spanDedup: within-doc repeat masks the second occurrence") {
    import spark.implicits._
    // "a b a b" with k=2: spans (a b)@0, (b a)@1, (a b)@2 — the second
    // "a b" masks tokens 2,3 → "a b" survives
    val docs = Seq((1L, "a b a b")).toDF("doc_id", "text")
    val out = Dedup.spanDedup(docs, "text", "doc_id", k = 2).collect()
    assert(out.head.getString(1) === "a b")
    assert(out.head.getLong(3) === 2L)
    Dedup.releaseCaches()
  }

  test("spanDedup: doc shorter than k is untouched; empty text kept as empty") {
    import spark.implicits._
    val docs = Seq((1L, "a b"), (2L, "")).toDF("doc_id", "text")
    val out = Dedup.spanDedup(docs, "text", "doc_id", k = 3)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
    assert(out === Seq((1L, "a b", 2L, 0L), (2L, "", 0L, 0L)))
    Dedup.releaseCaches()
  }

  test("annRecall: with one plane every bucket is probed — recall is exactly 1.0") {
    import spark.implicits._
    // nPlanes=1 → 2 buckets, and the probe set (own bucket + its one
    // Hamming-1 neighbor) covers BOTH, so the approx candidate set is
    // the whole corpus and approx top-k == exact top-k for every query
    val vecs = (0 until 12).map { i =>
      (i.toLong, Array.tabulate(4)(d => (((i * 7 + d * 3) % 11) - 5).toFloat))
    }.toDF("vec_id", "embedding")
    val out = Ann.annRecall(vecs, "embedding", "vec_id",
      col("vec_id") < 3, k = 5, nPlanes = 1, dim = 4)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toMap
    assert(out.keySet === Set(0L, 1L, 2L))
    assert(out.values.forall(_ === 1.0), s"expected perfect recall: $out")
    Dedup.releaseCaches()
  }

  test("annRecall: every query at least finds itself (cos 1.0 tops both lists)") {
    import spark.implicits._
    val vecs = (0 until 40).map { i =>
      (i.toLong, Array.tabulate(8)(d =>
        (((i * 13 + d * 5) % 17) - 8).toFloat))
    }.toDF("vec_id", "embedding")
    val out = Ann.annRecall(vecs, "embedding", "vec_id",
      col("vec_id") < 5, k = 10, nPlanes = 6, dim = 8)
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    assert(out.length === 5)
    // the query vector shares its own bucket, scores rounded-cos 1.0,
    // and wins the deterministic tie order in both rankings
    assert(out.forall(_._2 >= 0.1), s"self-hit missing: ${out.toSeq}")
    assert(out.forall(_._2 <= 1.0))
    Dedup.releaseCaches()
  }

  test("dsirWeights: target-distinctive features weigh positive, raw-distinctive negative") {
    import spark.implicits._
    // target docs are pure "aaa", raw docs pure "bbb"; a fresh doc of
    // each kind in the raw split gets opposite-signed weights
    val docs = (
      (0 until 5).map(i => (i.toLong, "aaa aaa aaa", true)) ++
      (10 until 15).map(i => (i.toLong, "bbb bbb bbb", false)) ++
      Seq((20L, "aaa aaa", false), (21L, "bbb bbb", false)))
      .toDF("doc_id", "text", "is_t")
    val out = TextFunctions.dsirWeights(docs, "text", "doc_id",
        isTarget = col("is_t"), buckets = 64L)
      .collect().map(r => (r.getLong(0), r.getDouble(2))).toMap
    assert(out(20L) > 0, s"aaa doc should lean target: ${out(20L)}")
    assert(out(21L) < 0, s"bbb doc should lean raw: ${out(21L)}")
    // weight scales with feature count: 3-token aaa docs outweigh the
    // 2-token one in absolute terms
    assert(out(0L) > out(20L))
    Dedup.releaseCaches()
  }

  test("incrementalDedup classifies corpus dups, batch dups, and new docs") {
    import spark.implicits._
    val corpus = Seq((100L, "fpA"), (101L, "fpB"), (102L, "fpB"))
      .toDF("doc_id", "fp") // index may itself hold dup fps
    val batch = Seq(
      (1L, "fpA"), // in corpus → dup_of_corpus (even though batch-first)
      (2L, "fpC"), // first of its fp in batch → new
      (3L, "fpC"), // later same fp → dup_in_batch
      (4L, "fpD")  // unique → new
    ).toDF("doc_id", "fp")
    val got = Dedup.incrementalDedup(batch, corpus, "fp", "doc_id")
      .as[(Long, String, String)].collect()
      .map(r => r._1 -> r._3).toMap
    assert(got == Map(1L -> "dup_of_corpus", 2L -> "new",
      3L -> "dup_in_batch", 4L -> "new"))
  }

  test("hardNegatives: same-label neighbors excluded, rank by cos then id") {
    import spark.implicits._
    // query id 0 (label 0) at (1,0); id 1 shares its label and exact
    // direction — MUST be excluded; ids 2..4 are label 1 at cos 1, 0, −1
    val vecs = Seq(
      (0L, 0, Array(1f, 0f)),
      (1L, 0, Array(1f, 0f)),
      (2L, 1, Array(1f, 0f)),
      (3L, 1, Array(0f, 1f)),
      (4L, 1, Array(-1f, 0f))
    ).toDF("vec_id", "label", "embedding")
    val out = Ann.hardNegatives(vecs, "embedding", "vec_id", "label",
      col("vec_id") === 0, k = 2)
      .orderBy("rn")
      .collect().map(r =>
        (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
    assert(out === Seq((0L, 2L, 1.0, 1), (0L, 3L, 0.0, 2)))
    Dedup.releaseCaches()
  }

  test("nearestCentroidConfusion: exact centroids, tie to smaller label") {
    import spark.implicits._
    // label 0: (1,0),(3,0) → centroid (2,0)
    // label 1: (0,2),(0,4),(12,0) → centroid (4,2)
    // (0,2): d² 8 vs 16 → pred 0 (misclassified)
    // (0,4): d² 20 vs 20 → TIE → smaller label 0
    // (12,0): d² 100 vs 68 → pred 1; both label-0 vecs stay 0
    val vecs = Seq(
      (0L, 0, Array(1f, 0f)), (1L, 0, Array(3f, 0f)),
      (2L, 1, Array(0f, 2f)), (3L, 1, Array(0f, 4f)),
      (4L, 1, Array(12f, 0f))
    ).toDF("vec_id", "label", "embedding")
    val out = Ann.nearestCentroidConfusion(vecs, "embedding", "label")
      .collect().map(r => (r.getInt(0), r.getInt(1)) -> r.getLong(2)).toMap
    assert(out === Map((0, 0) -> 2L, (1, 0) -> 2L, (1, 1) -> 1L))
  }

  test("packSequences: pencil-derived spans at L=4") {
    import spark.implicits._
    // stream (EOS after each doc): d1 = 3 toks [0,3), EOS@3;
    // d2 = 6 toks [4,10), EOS@10; d3 = 1 tok [11,12), EOS@12.
    // L=4 cuts: seq0=[0,4) seq1=[4,8) seq2=[8,12)
    // d1 → (0, doc_off 0, seq_off 0, n 3)
    // d2 → (1, 0, 0, 4) and (2, 4, 0, 2)
    // d3 → (2, 0, 3, 1)
    val docs = Seq((1L, "a b c"), (2L, "d e f g h i"), (3L, "j"))
      .toDF("doc_id", "text")
    val out = Corpus.packSequences(docs, "text", "doc_id", seqLen = 4L)
      .orderBy("doc_id", "seq_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4)))
    assert(out === Seq(
      (0L, 1L, 0L, 0L, 3L),
      (1L, 2L, 0L, 0L, 4L),
      (2L, 2L, 4L, 0L, 2L),
      (2L, 3L, 0L, 3L, 1L)))
  }

  test("packSequences: two-phase shard sum equals the sequential scan") {
    import spark.implicits._
    // irregular doc lengths across several shard boundaries
    val docs = (0L until 23L)
      .map(i => (i, Seq.fill((i % 7 + 1).toInt)("w").mkString(" ")))
      .toDF("doc_id", "text").repartition(8)
    val a = Corpus.packSequences(docs, "text", "doc_id",
      seqLen = 16L, shardSize = 3L).orderBy("seq_id", "doc_id").collect()
    val b = Corpus.packSequences(docs, "text", "doc_id",
      seqLen = 16L, shardSize = 1000L).orderBy("seq_id", "doc_id").collect()
    assert(a.toSeq === b.toSeq,
      "sharded prefix sum diverged from the single-shard scan")
    // reassembly invariant: each doc's pieces sum to its token count,
    // in contiguous doc_off order
    val byDoc = a.map(r => (r.getLong(1), r.getLong(2), r.getLong(4)))
      .groupBy(_._1)
    byDoc.foreach { case (id, pieces) =>
      val sorted = pieces.sortBy(_._2)
      assert(sorted.head._2 == 0L)
      sorted.sliding(2).foreach {
        case Array(p, q) => assert(p._2 + p._3 == q._2,
          s"doc $id pieces not contiguous")
        case _ =>
      }
      assert(sorted.map(_._3).sum == (id % 7 + 1),
        s"doc $id pieces do not reassemble")
    }
  }

  test("pagerank: hand-computed integer fixed point on a path graph") {
    import spark.implicits._
    // A(1)-B(2)-C(3): N=3, pr0 = 10^12 div 3 = 333333333333
    // contribs: A→B 333333333333; B→{A,C} 166666666666 each
    // pr1(A)=pr1(C) = 150000000000 div 3 + (85·166666666666) div 100
    //   = 50000000000 + 141666666666 = 191666666666
    // pr1(B) = 50000000000 + (85·666666666666) div 100 = 616666666666
    val e = Seq((1L, 2L), (2L, 3L)).toDF("sa", "sb")
    val out = Corpus.pagerank(e, iters = 1)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2)))
      .toMap
    assert(out === Map(
      1L -> (1L, 191666666666L),
      2L -> (2L, 616666666666L),
      3L -> (1L, 191666666666L)))
    Dedup.releaseCaches()
  }

  test("pagerank: mass stays ≤ 1 and the star center dominates") {
    import spark.implicits._
    val e = (2L to 9L).map(i => (1L, i)).toDF("sa", "sb")
    val out = Corpus.pagerank(e, iters = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    // floor divisions only shed mass, never create it
    assert(out.values.sum <= 1000000000000L)
    assert((2L to 9L).forall(i => out(1L) > out(i)),
      "star center must outrank every leaf")
    assert((3L to 9L).forall(i => out(i) == out(2L)),
      "leaves are symmetric, ranks must tie")
    Dedup.releaseCaches()
  }

  test("deep pagerank frees superseded checkpoints; ranks match a driver-side reference") {
    import spark.implicits._
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (1L, 4L), (5L, 6L))
    // the same integer power iteration, on the driver
    val sym = pairs ++ pairs.map(_.swap)
    val deg = sym.groupMapReduce(_._1)(_ => 1L)(_ + _)
    val n = deg.size.toLong
    var pr = deg.map { case (v, _) => v -> 1000000000000L / n }
    for (_ <- 1 to 17) {
      val sc = sym.groupMapReduce(_._2) { case (s, _) => pr(s) / deg(s) }(_ + _)
      pr = deg.map { case (v, _) =>
        v -> (150000000000L / n + 85 * sc.getOrElse(v, 0L) / 100) }
    }
    val want = deg.map { case (v, d) => v -> (d, pr(v)) }

    val sc = spark.sparkContext
    def localCheckpoints: Set[Int] = sc.getPersistentRDDs.collect {
      case (id, rdd) if org.apache.spark.rdd.SparkTestAccess.isLocallyCheckpointed(rdd) => id
    }.toSet
    val before = localCheckpoints
    // iters = 17 checkpoints after rounds 8 and 16; the result reads
    // only the round-16 one
    val ranks = Corpus.pagerank(pairs.toDF("sa", "sb"), iters = 17)
    val kept = localCheckpoints -- before
    assert(kept.size <= 1, s"pagerank left ${kept.size} checkpoints persisted")
    val got = ranks.collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(got == want)
    Dedup.releaseCaches()
  }

  test("containmentPairs: embedded doc reads ~1.0 on its side, low on the host's") {
    import spark.implicits._
    // k=2. Doc 1 ("x y z") is fully embedded in doc 2; doc 3 unrelated.
    // grams(1) = {x y, y z} (sz 2), both also in doc 2 (df 2 → both
    // candidate grams). grams(2) = {a b, b x, x y, y z, z c, c d} sz 6.
    // shared = 2 → cont_1 = 10000 bp, cont_2 = 20000/6 = 3333 bp.
    val docs = Seq(
      (1L, "x y z"),
      (2L, "a b x y z c d"),
      (3L, "p q r s t")).toDF("doc_id", "text")
    val out = Corpus.containmentPairs(docs, "text", "doc_id",
      k = 2, dfMin = 2, dfMax = 4).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4)))
    assert(out.toSeq === Seq((1L, 2L, 2L, 10000L, 3333L)))
    Dedup.releaseCaches()
  }

  test("pqTopK: ADC distance is exact when vectors coincide with codebook subspaces") {
    import spark.implicits._
    // dim 4, m=2 subspaces of 2, ksub=2 codebook = vecs 0,1.
    // Every vector's sub-slices coincide with a sub-centroid, so the
    // quantization is lossless and ADC == true squared distance to the
    // query (vec 0 at origin), in 1e-12 units:
    // v0 (0,0,0,0) → 0; v1 (1,1,1,1) → 4e12
    // v2 (0,0,1,1) → 2e12; v3 (1,1,0,0) → 2e12 (tie → vec_id order)
    val vecs = Seq(
      (0L, Array(0f, 0f, 0f, 0f)), (1L, Array(1f, 1f, 1f, 1f)),
      (2L, Array(0f, 0f, 1f, 1f)), (3L, Array(1f, 1f, 0f, 0f))
    ).toDF("vec_id", "embedding")
    val out = Ann.pqTopK(vecs, "embedding", "vec_id",
      Seq(0.0, 0.0, 0.0, 0.0), k = 4, m = 2, ksub = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(out.toSeq === Seq(
      (0L, 0L), (2L, 2000000000000L), (3L, 2000000000000L),
      (1L, 4000000000000L)))
  }

  test("leakageSafeSplit: cluster members share a split; singletons anchor to self") {
    import spark.implicits._
    val docs = (1L to 10L).map(Tuple1(_)).toDF("doc_id")
    val clusters = Seq((1L, 1L), (2L, 1L), (3L, 3L), (7L, 3L))
      .toDF("id", "cluster")
    val out = Corpus.leakageSafeSplit(docs, "doc_id", clusters)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getString(2)))
      .toMap
    assert(out.size == 10)
    // the leakage guarantee: same cluster → same anchor → same split
    assert(out(1L)._2 === out(2L)._2 && out(1L)._1 === out(2L)._1)
    assert(out(3L)._2 === out(7L)._2 && out(3L)._1 === out(7L)._1)
    // unclustered docs anchor to themselves
    assert(out(5L)._1 === 5L && out(9L)._1 === 9L)
    assert(out.values.forall(v => Set("train", "val", "test")(v._2)))
  }

  test("rareGramEdges: df window keeps shared grams, drops common/unique") {
    import spark.implicits._
    // k=2 grams; "x y" appears in docs 1,2 (df 2 → edge), "c c" in all
    // four (df 4 > dfMax 3 → no edge), the rest unique
    val docs = Seq(
      (1L, "x y a c c"), (2L, "x y b c c"),
      (3L, "p q r c c"), (4L, "s t u c c")).toDF("doc_id", "text")
    val e = Corpus.rareGramEdges(docs, "text", "doc_id",
      k = 2, dfMin = 2, dfMax = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(e === Set((1L, 2L)))
    Dedup.releaseCaches()
  }

  test("rareGramEdgesFrom: a null id never becomes an edge end") {
    import spark.implicits._
    // g1 = {1, 2, null}, g2 = {3, null}: collect_list skips the nulls,
    // so g1 pairs 1 with 2 and g2 has one member left. The null still
    // counts toward each gram's [dfMin, dfMax] band.
    val grams = Seq[(String, java.lang.Long)](
      ("g1", 1L), ("g1", 2L), ("g1", null),
      ("g2", 3L), ("g2", null)).toDF("g", "doc_id")
    val e = Corpus.rareGramEdgesFrom(grams, "doc_id", dfMin = 2, dfMax = 4)
      .collect().map(r => (r.get(0), r.get(1))).toSeq
    assert(e === Seq((1L, 2L)))
  }
}
