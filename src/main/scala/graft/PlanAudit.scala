package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.debug._

/** Dumps physical plans for the load-bearing queries so the scale
  * properties are reviewable: filter pushdown reaching the parquet
  * scan, column pruning in ReadSchema, broadcast join strategy for the
  * allow-list, whole-stage codegen spans, and the absence of any
  * raw-payload shuffle in the extraction pipeline.
  */
object PlanAudit {
  def main(args: Array[String]): Unit = {
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val spark = Bench.session("8")
    spark.sparkContext.setLogLevel("ERROR")

    def show(name: String, note: String)(dfb: => org.apache.spark.sql.DataFrame): Unit = {
      println(s"\n## $name\n\n$note\n\n```")
      println(dfb.queryExecution.executedPlan.toString.take(6000))
      println("```")
    }

    show("ingest selection (q05 shape): pushdown + pruning + broadcast semi join",
      "Watermark/ts + event_type conjuncts must appear in PushedFilters; " +
      "ReadSchema must not include unused columns; the allow-list join " +
      "must be BroadcastHashJoin LeftSemi.") {
      SparkEntry.queries("q05_allowlist_semi")(spark, dir)
    }

    show("extraction pipeline (q15 shape): map-side, no raw-payload exchange",
      "There must be NO Exchange between the transcript source and the " +
      "Project over `ExtractAll` — the payload column is never shuffled. " +
      "The `MapPartitions … graft.model.Turn` node under the Filter is " +
      "the synthetic source (`TranscriptGen.dataset`), not extraction.") {
      SparkEntry.queries("q15_extract_pipeline")(spark, dir)
    }

    show("join+agg (q07): partial aggregation below the shuffle",
      "HashAggregate(partial) must sit below the Exchange; join strategy " +
      "is left to AQE/Catalyst stats.") {
      SparkEntry.queries("q07_join_agg")(spark, dir)
    }

    show("column pruning proof: 2-column projection over 6-column events",
      "ReadSchema must list only event_id and ts.") {
      spark.read.parquet(s"$dir/events.parquet")
        .filter(col("ts") > lit("2024-01-15").cast("timestamp"))
        .select(col("event_id"), col("ts"))
    }

    show("lsh dedup (q27 shape): staged projects, occupancy-capped membership",
      "tokens → signature → band keys are separate Projects (no " +
      "re-tokenization blowup). Bucket COUNTS aggregate first " +
      "(fixed-size buffers) and the 2..cap filter joins back before any " +
      "collect_set runs — every membership buffer (partial included) is " +
      "bounded by the cap, so no mega bucket can OOM a task; the banded " +
      "relation shuffles once, the counts side is a tiny " +
      "broadcast/reused exchange.") {
      SparkEntry.queries("q27_lsh_buckets")(spark, dir)
    }

    show("cosine top-k (q28): TakeOrderedAndProject, staged norm",
      "Global top-k must compile to TakeOrderedAndProject (k rows per " +
      "partition shuffled), never a total Sort — AND the L2 norm must be " +
      "its own Project column (`_graft_nrm`), never inlined into the " +
      "per-element division lambda (the round-1 O(d²) pathology).") {
      SparkEntry.queries("q28_cosine_topk")(spark, dir)
    }

    show("jaccard verify (q31): bucket-local, shingles shuffled once per band",
      "One Exchange keyed by (band, band_key) carrying (id, shingles) — " +
      "candidate pairs never materialize outside their bucket, so no " +
      "pair-join shuffle amplification; the final distinct is over the " +
      "tiny survivor set.") {
      SparkEntry.queries("q31_jaccard_pairs")(spark, dir)
    }

    show("simhash pairs (q30/q47 shape): banded self-join, occupancy-capped",
      "Candidate generation is a (band, key) equi-join of the banded " +
      "relation against its own 2..cap-occupancy bucket list — the " +
      "shuffles are keyed by the 8-byte band key (id + two longs per " +
      "row, never payload text: simhash64 reduces each doc before any " +
      "Exchange), and AQE reuses the banded exchange between the " +
      "occupancy aggregation and the join.") {
      SparkEntry.queries("q30_simhash_templates")(spark, dir)
    }

    show("training selection (q51): signals staged below the keeper window",
      "The fingerprint-dedup window must shuffle (doc_id, q, lang_pred, " +
      "rep, fp) — the staged signal columns, a few dozen bytes per doc — " +
      "and the raw text column must NOT appear in the Exchange above the " +
      "scan (signals and fp are computed map-side, text pruned).") {
      SparkEntry.queries("q51_training_selection")(spark, dir)
    }

    show("exact-dedup drop list (q49): payload pruned below the window",
      "The rank window shuffles only (doc_id, fp) — Catalyst prunes the " +
      "text column below the Exchange because no operator above the " +
      "fingerprint Project reads it.") {
      SparkEntry.queries("q49_exact_dropids")(spark, dir)
    }

    // ---- single-scan evidence for multi-consumer dedup queries ---------
    // The hash-dedup candidate generators feed one reduced relation to
    // several subtrees (occupancy counts + both self-join sides); round 3
    // showed AQE exchange reuse canNOT merge those (different column
    // pruning, BroadcastExchange on the small side), so each subtree
    // re-scanned and re-hashed the corpus text — up to 4× for simhash.
    // The reduced relation is now persisted, and this section PROVES the
    // property: walk the executed plan including cached build plans,
    // dedupe FileSourceScanExec nodes by identity (a shared
    // InMemoryRelation = one executed scan), and report each node's
    // numOutputRows — one node at table-row count == the corpus was
    // scanned exactly once.
    {
      println("\n## single-scan audit: corpus text scanned once per dedup query\n")
      println("| query | distinct FileScan nodes | rows per scan |")
      println("|---|---|---|")
      for (q <- Seq("q27_lsh_buckets", "q30_simhash_templates",
          "q41_lsh_neardups", "q47_simhash_neardups",
          "q55_unigram_surprisal", "q64_span_dedup",
          "q66_ann_recall", "q67_dsir_weights",
          "q73_temperature_sample", "q76_tfidf_topterms",
          "q77_incremental_dedup", "q78_pmi_phrases",
          "q81_bm25_topk", "q82_bigram_surprisal",
          "q85_cms_counts", "q88_hll_distinct",
          "q90_pagerank", "q92_containment",
          "q96_filter_ablation")) {
        spark.sharedState.cacheManager.clearCache()
        val df = SparkEntry.queries(q)(spark, dir)
        // collect() runs df's OWN QueryExecution (count() would build a
        // new one and leave this instance's metrics unset outside the
        // shared cached subtree)
        df.collect()
        val scans = distinctFileScans(df.queryExecution.executedPlan)
        val rows = scans.map(f =>
          f.metrics.get("numOutputRows").map(_.value).getOrElse(-1L))
        println(s"| $q | ${scans.size} | ${rows.mkString(",")} |")
      }
      spark.sharedState.cacheManager.clearCache()
    }

    // ---- AQE skew-join evidence (SURVEY §4.2) --------------------------
    // The turns × conversation-dim join is the shape that skews at
    // 100 TB: join on conv_id alone, where one conversation can dwarf
    // the rest. TranscriptGen's 50× heavy tail averages out across
    // partitions at test scale, so the demo adds one deliberately
    // pathological hot conversation and lowers the AQE thresholds to the
    // test data's byte scale — the mechanism (OptimizeSkewedJoin
    // splitting the hot partition, `skew=true` on the SMJ) is exactly
    // what fires at production thresholds on production bytes. Note the
    // SMJ children must be bare shuffle stages for the skew rule to
    // match — an aggregate between shuffle and join defeats it, which is
    // itself a useful planning fact: pre-aggregate BEFORE the wide join,
    // or keep the skewed side un-aggregated.
    {
      import graft.fixtures.TranscriptGen
      import spark.implicits._
      val conf = spark.conf
      conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
      conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
      conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "32k")
      conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "16k")
      conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
      val cfg = TranscriptGen.GenConfig(nConvs = 500)
      val base = TranscriptGen.dataset(spark, cfg).toDF()
        .select(col("conv_id"), col("turn_idx"))
      val hot = spark.range(0, 500000L).select(
        lit("conv-hot-a1").as("conv_id"), col("id").cast("int").as("turn_idx"))
      val turns = base.unionByName(hot)
      val dim = spark.range(0, 500)
        .map(i => TranscriptGen.convId(cfg, i)).toDF("conv_id")
        .unionByName(Seq("conv-hot-a1").toDF("conv_id"))
        .withColumn("case_type", expr("right(conv_id, 2)"))
      val joined = turns.join(dim, "conv_id")
      // materialize THIS QueryExecution (count() would build a new one)
      // so AQE's final re-planned tree is what prints below
      joined.queryExecution.toRdd.count()
      val plan = joined.queryExecution.executedPlan.toString
      println("\n## AQE skew-join: turns × conversation-dim join under a hot key\n")
      println("`isFinalPlan=true` with `SortMergeJoin(skew=true)` and an " +
        "`AQEShuffleRead coalesced and skewed` on the fat side shows " +
        "OptimizeSkewedJoin split the hot conversation's partition at " +
        "runtime:\n\n```")
      println(plan.take(6000))
      println("```")
      println(s"\nskew handled: ${plan.contains("skew=true")}")
    }

    // ---- scale-safe centroid assignment (r06, round-5 verdict #1) ------
    // The IVF/SemDeDup cell assignment must stay O(1) in plan size at
    // the √N / N/128 centroid dials: centroids ride a Spark broadcast
    // consumed by the native NearestCentroid expression, never the plan.
    // Forced nCentroids = 10,000 here — the literal-array argmin this
    // replaced embedded nCentroids × dim literals (a multi-MB plan that
    // collapsed analyzer/codegen well before 10⁴ cells).
    {
      import org.apache.spark.sql.functions._
      val nCents = 10000
      val dim = 16
      val vecs = spark.range(0, 2000).select(col("id").cast("int").as("vec_id"),
        transform(sequence(lit(0), lit(dim - 1)),
          i => (pmod(col("id") * 31 + i, lit(97)).cast("double") / 97.0)
            .cast("float")).as("embedding"))
      val cents = Array.tabulate(nCents, dim)((c, d) =>
        ((c * 131 + d * 17) % 89).toDouble / 89.0)
      val df = graft.functions.Ann.withIvfCell(vecs, "embedding", cents, "cell")
      df.queryExecution.toRdd.count()
      val planStr = df.queryExecution.executedPlan.toString
      println(s"\n## scale-safe centroid assignment: nCentroids=$nCents, dim=$dim\n")
      println(s"plan chars: ${planStr.length} (literal-argmin plan would " +
        s"embed ${nCents * dim} double literals); contains " +
        s"'nearestcentroid': ${planStr.toLowerCase.contains("nearestcentroid")}\n")
      println("```")
      println(planStr.take(3000))
      println("```")
    }
    spark.stop()
  }

  /** All FileSourceScanExec nodes reachable from `plan`, descending
    * through AQE stages, reused exchanges, and InMemoryTableScan build
    * plans, deduped by object identity — a shared InMemoryRelation
    * contributes its scan once, mirroring actual execution. */
  def distinctFileScans(plan: org.apache.spark.sql.execution.SparkPlan)
      : Seq[org.apache.spark.sql.execution.FileSourceScanExec] = {
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
    val seen = java.util.Collections.newSetFromMap(
      new java.util.IdentityHashMap[SparkPlan, java.lang.Boolean]())
    val scans = scala.collection.mutable.ArrayBuffer.empty[FileSourceScanExec]
    def walk(p: SparkPlan): Unit = {
      if (!seen.add(p)) return
      p match {
        case f: FileSourceScanExec => scans += f
        case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
        case qs: QueryStageExec => walk(qs.plan)
        case r: ReusedExchangeExec => walk(r.child)
        case m: InMemoryTableScanExec => walk(m.relation.cachedPlan)
        case _ => ()
      }
      p.children.foreach(walk)
      p.subqueries.foreach(walk)
    }
    walk(plan)
    scans.toSeq
  }
}
