package graft.functions

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Corpus-assembly operators for the pretraining data pipeline:
  * sequence packing (concat-and-chunk) and graph centrality over a
  * document-similarity graph. Both are exact-integer-arithmetic
  * operators — every division is a BIGINT floor division — so a SQL
  * oracle reproduces them bit-for-bit.
  */
object Corpus {

  /** GPT-style pretraining sequence packing: concatenate every doc
    * (idCol order, one EOS token appended to each) into one global
    * token stream, cut at fixed seqLen, and emit each doc's span
    * pieces — `(seq_id, id, doc_off, seq_off, n_toks)`.
    *
    * The global offset is a DISTRIBUTED PREFIX SUM — the piece that
    * decides whether this runs at 10¹² tokens: stage 1 sums (n+1)
    * within id-range shards (window partitioned BY SHARD — parallel,
    * each shard a bounded row range), stage 2 cumsums the per-shard
    * totals (one window over #shards ≪ N rows; at extreme scale this
    * level recurses with the same two-phase scan), stage 3 broadcasts
    * the shard bases back. shard = id div shardSize is monotonic in
    * id, so shard-local order == global order and the two-phase sum
    * equals the sequential one — asserted by spec at two shard sizes.
    */
  def packSequences(df: DataFrame, textCol: String, idCol: String,
      seqLen: Long, shardSize: Long = 100L): DataFrame = {
    val dt = df
      .filter(length(trim(col(textCol))) > 0)
      .select(col(idCol),
        TextFunctions.tokenCount(col(textCol)).cast("long").as("n"))
      .withColumn("shard", expr(s"$idCol div $shardSize"))
    val wLocal = Window.partitionBy(col("shard")).orderBy(col(idCol))
      .rowsBetween(Window.unboundedPreceding, -1)
    val wShard = Window.orderBy(col("shard"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val bases = dt.groupBy(col("shard"))
      .agg(sum(col("n") + 1L).as("tot"))
      // single-partition window, but over #shards rows, not N
      .withColumn("base", coalesce(sum(col("tot")).over(wShard), lit(0L)))
      .select(col("shard"), col("base"))
    dt.withColumn("local_off",
        coalesce(sum(col("n") + 1L).over(wLocal), lit(0L)))
      .join(broadcast(bases), Seq("shard"))
      .withColumn("off", col("base") + col("local_off"))
      .withColumn("seq_id", explode(sequence(
        expr(s"off div $seqLen"), expr(s"(off + n - 1) div $seqLen"))))
      .select(col("seq_id"), col(idCol),
        (greatest(col("off"), col("seq_id") * seqLen) - col("off"))
          .as("doc_off"),
        (greatest(col("off"), col("seq_id") * seqLen)
          - col("seq_id") * seqLen).as("seq_off"),
        (least(col("off") + col("n"), (col("seq_id") + 1L) * seqLen)
          - greatest(col("off"), col("seq_id") * seqLen)).as("n_toks"))
  }

  /** Document-similarity edges: docs sharing a k-token shingle whose
    * global document frequency lies in [dfMin, dfMax] are linked. The
    * df ceiling IS the occupancy cap — ≤ C(dfMax,2) pairs per gram, no
    * hub blow-up — and grams ride every exchange as 8-byte FNV longs
    * (identical hashing engine- and oracle-side, so a collision merges
    * the same grams in both). Returns distinct `(sa, sb)` with sa < sb.
    * The gram relation is persisted (tracked for release): it feeds
    * both the df count and the pair join — one text scan.
    */
  /** Distinct `(idCol, g)` hashed k-gram relation, persisted (tracked
    * for release) so every consumer — df counts, pair joins, size
    * counts, intersections — re-derives from ONE text scan. */
  def hashedGrams(df: DataFrame, textCol: String, idCol: String,
      k: Int): DataFrame =
    Dedup.trackPersisted(
      Exec.fanOutForCpu(df
        .filter(length(trim(col(textCol))) > 0)
        .select(col(idCol), col(textCol)))
      .select(col(idCol), TextFunctions.tokens(col(textCol)).as("t"))
      .filter(col("t").isNotNull)
      // per-doc distinct INSIDE the fused n-gram+FNV kernel: duplicate
      // (id, g) pairs can only arise within one document, so deduping
      // in the map stage == the global `.distinct()` this replaces —
      // minus a full exchange + dedup aggregation of the gram relation
      .select(col(idCol), explode(
        TextFunctions.hashedShinglesFromTokens(col("t"), k)).as("g"))
      .persist(StorageLevel.MEMORY_AND_DISK))

  def rareGramEdges(df: DataFrame, textCol: String, idCol: String,
      k: Int, dfMin: Int, dfMax: Int): DataFrame =
    rareGramEdgesFrom(hashedGrams(df, textCol, idCol, k), idCol,
      dfMin, dfMax)

  /** The edge join over an existing gram relation (see
    * [[hashedGrams]]); kept separate so multi-consumer operators can
    * reuse one persisted gram relation for edges AND other joins.
    *
    * r06 shape: the old `rt ⋈ rt on g` self-join evaluated the
    * rare-gram relation TWICE and shuffled it twice; pairs now come
    * from ONE `groupBy(g)` whose membership buffer is bounded by the
    * counts-first [dfMin, dfMax] band (≤ dfMax ids per gram — the same
    * occupancy discipline as every pair generator here: counts with
    * fixed-size buffers decide survival BEFORE any membership
    * collects), followed by a per-gram ordered-pair explode. Identical
    * output: per gram, all (sa < sb) pairs of its distinct members,
    * deduped across grams. */
  def rareGramEdgesFrom(grams: DataFrame, idCol: String,
      dfMin: Int, dfMax: Int): DataFrame = {
    val rare = grams.groupBy(col("g")).agg(count(lit(1)).as("c"))
      .filter(col("c").between(dfMin, dfMax)).select(col("g"))
    val members = grams.join(rare, Seq("g"))
      .groupBy(col("g"))
      .agg(sort_array(collect_list(col(idCol))).as("ids"))
    // ids sorted ascending → pairing later elements to earlier ones
    // yields exactly the sa < sb orientation (slice start is 1-based)
    members
      .select(explode(flatten(transform(col("ids"), (x, i) =>
        transform(slice(col("ids"), i + lit(2), lit(dfMax)),
          y => struct(x.as("sa"), y.as("sb")))))).as("p"))
      .select(col("p.sa").as("sa"), col("p.sb").as("sb"))
      .distinct()
  }

  /** Document containment (Broder 1997's asymmetric resemblance
    * companion): for candidate pairs sharing a rare k-gram, the exact
    * shared-gram count and both direction containments C(A→B) =
    * |grams(A) ∩ grams(B)| / |grams(A)| — the subset-duplicate signal
    * Jaccard misses when a small doc is embedded in a much larger one
    * (their Jaccard is tiny; the small side's containment is ~1).
    *
    * Scale shape: candidates come from the df∈[dfMin,dfMax] band
    * (bounded pairs per gram — the occupancy cap), the intersection is
    * a relational gram join over the candidate pairs only (never
    * all-pairs), and the whole query re-derives from ONE persisted
    * gram relation. Exactness: containments are integer basis points —
    * (shared·10⁴) div size — floor division both engines share. */
  def containmentPairs(df: DataFrame, textCol: String, idCol: String,
      k: Int, dfMin: Int, dfMax: Int): DataFrame = {
    val grams = hashedGrams(df, textCol, idCol, k)
    val e = rareGramEdgesFrom(grams, idCol, dfMin, dfMax)
    val sizes = grams.groupBy(col(idCol)).agg(count(lit(1)).as("sz"))
    val inter = e
      .join(grams.select(col(idCol).as("sa"), col("g")), Seq("sa"))
      .join(grams.select(col(idCol).as("sb"), col("g")), Seq("sb", "g"))
      .groupBy(col("sa"), col("sb")).agg(count(lit(1)).as("shared"))
    inter
      .join(sizes.select(col(idCol).as("sa"), col("sz").as("sza")),
        Seq("sa"))
      .join(sizes.select(col(idCol).as("sb"), col("sz").as("szb")),
        Seq("sb"))
      .select(col("sa"), col("sb"), col("shared"),
        expr("(shared * 10000) div sza").as("cont_a_bp"),
        expr("(shared * 10000) div szb").as("cont_b_bp"))
  }

  /** Leakage-safe train/val/test split: every doc is assigned by the
    * hash of its near-dup CLUSTER representative (its own id if
    * unclustered), so a near-duplicate family can never straddle the
    * split boundary — the eval-contamination vector a per-doc random
    * split leaves open (Lee et al. 2021 measure dev-set near-dups from
    * exactly this). `clusters` is a `(id, cluster)` relation, e.g.
    * [[Dedup.dupClusters]] output.
    *
    * Scale shape: one left join on the id key (the cluster relation is
    * only dup-family members — a sliver of the corpus) and a pure
    * codegen hash projection; nothing else. Deterministic: FNV of the
    * anchor's decimal string mod 100 against integer percent cutoffs —
    * the same split assignment on every run, engine, and cluster size,
    * and stable under corpus growth (a doc's split can only change if
    * its CLUSTER membership changes, never because other docs arrived).
    */
  def leakageSafeSplit(df: DataFrame, idCol: String, clusters: DataFrame,
      trainPct: Int = 80, valPct: Int = 10): DataFrame = {
    require(trainPct > 0 && valPct >= 0 && trainPct + valPct < 100,
      "percent cutoffs must leave room for test")
    require(clusters.columns.contains("id") &&
      clusters.columns.contains("cluster"),
      s"clusters relation must carry (id, cluster) columns, got " +
        s"(${clusters.columns.mkString(", ")}) — rename upstream " +
        "(e.g. Dedup.dupClusters output) before passing it here")
    val b = pmod(Expressions.fnv1a64(col("anchor").cast("string")),
      lit(100L))
    df.select(col(idCol))
      .join(clusters.withColumnRenamed("id", idCol), Seq(idCol), "left")
      .select(col(idCol), coalesce(col("cluster"), col(idCol)).as("anchor"))
      .withColumn("split",
        when(b < trainPct, "train")
          .when(b < trainPct + valPct, "val")
          .otherwise("test"))
  }

  /** PageRank-style centrality over an undirected graph given as
    * distinct `(sa, sb)` edges (sa < sb), `iters` power iterations.
    * Returns `(v, deg, pr)` with pr in 1e-12 units.
    *
    * The whole fixed point is INTEGER arithmetic: pr₀ = 10¹² div N;
    * each round pr' = (0.15·10¹² div N) + (85·Σ(pr_u div deg_u)) div
    * 100 — floor division and BIGINT sums only, so Spark and a SQL
    * oracle reproduce every iterate bit-for-bit (the q52 decimal
    * determinism discipline taken to its integer limit). Dangling mass
    * is out of scope by construction: the graph is symmetric, so every
    * vertex has deg ≥ 1 and at least one in-neighbor.
    *
    * Scale shape: the edge set is persisted once (tracked) and reused
    * by all rounds; each round is one shuffle join + one map-side-
    * combined sum — O(iters) jobs, no driver state beyond the
    * broadcast 1-row vertex count.
    */
  def pagerank(edges: DataFrame, iters: Int): DataFrame = {
    val e = Dedup.trackPersisted(edges.persist(StorageLevel.MEMORY_AND_DISK))
    val sym = e.select(col("sa").as("src"), col("sb").as("dst"))
      .unionByName(e.select(col("sb").as("src"), col("sa").as("dst")))
    val verts = Dedup.trackPersisted(
      sym.groupBy(col("src")).agg(count(lit(1)).as("deg"))
        .withColumnRenamed("src", "v")
        .persist(StorageLevel.MEMORY_AND_DISK))
    val nRow = broadcast(verts.agg(count(lit(1)).as("nv")))
    // the teleport terms are constants of the graph — stage them ONCE
    // in a persisted vertex base instead of re-deriving
    // verts × nRow (a broadcast-nested-loop stage) in every round
    val base = Dedup.trackPersisted(verts.crossJoin(nRow)
      .select(col("v"), col("deg"),
        expr("1000000000000 div nv").as("pr0"),
        expr("150000000000 div nv").as("t15"))
      .persist(StorageLevel.MEMORY_AND_DISK))
    var pr = base.select(col("v"), col("deg"), col("pr0").as("pr"))
    // the iterate's latest checkpoint, freed once the next one has
    // materialized (the newer one no longer reads it)
    var lastCk: Option[DataFrame] = None
    for (i <- 1 to iters) {
      val agg = sym
        .join(pr.select(col("v").as("src"), expr("pr div deg").as("c")),
          Seq("src"))
        .groupBy(col("dst")).agg(sum(col("c")).as("sc"))
        .withColumnRenamed("dst", "v")
      pr = base.join(agg, Seq("v"), "left")
        .select(col("v"), col("deg"),
          (col("t15") +
            expr("(85 * coalesce(sc, 0L)) div 100")).as("pr"))
      // deep power iteration (not the iters=3 default) grows the
      // iterate's lineage without bound — truncate every 8 rounds
      // (local or reliable per Exec.iterCheckpoint; values are exact
      // integers, so a checkpointed iterate is bit-identical)
      if (i % 8 == 0 && i < iters) {
        pr = Exec.iterCheckpoint(pr, eager = true)
        lastCk.foreach(Exec.freeLocalCheckpoint)
        lastCk = Some(pr)
      }
    }
    pr
  }
}
