package graft.pipeline

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import graft.functions.Dedup

/** Runs a near-dup pair generator as a JOB and discloses its silent
  * cap: every generator in [[graft.functions.Dedup]] drops candidate
  * buckets above an occupancy cap (the 100-TB bound on the bucket-local
  * self-join), and at corpus scale the dropped mass is exactly the
  * boilerplate/template clusters a user might expect dedup to catch —
  * so the drop counts land in a metrics table next to the run, the same
  * never-throw discipline as [[ExtractionJob.run]]'s metrics row
  * (reference analog: the run-summary notification that reports counts
  * without failing the batch, SlackNotification.java:73-105).
  *
  * Metrics schema (`<tableRoot>/dedup_metrics`, append):
  * (run_id, operator, output_rows, buckets, mega_buckets_dropped,
  * docs_in_mega_buckets, duration_sec). `output_rows` is the run's
  * primary result count — near-dup PAIRS for the pair generators,
  * DROPPED DOC ids for the end-to-end [[runSimhashDedup]]; the
  * `operator` column says which. `buckets` is −1 for the flatMapGroups
  * jaccard path (its accumulators see only dropped groups; bucket
  * totals would need a second aggregation over the exchange) and its
  * drop counts are at-least-once under task retries — a metrics
  * caveat, not a correctness one.
  */
object DedupJob {

  final case class DedupRunResult(runId: String, operator: String,
      outputRows: Long, buckets: Long, megaBucketsDropped: Long,
      docsInMegaBuckets: Long, durationSec: Double)

  /** Shared run scaffolding: mint the run id, open the run's `probe`
    * (the Observation or accumulators its operator fills), time `body`
    * inside a cache scope, read the bucket counters from the probe, and
    * append the disclosure row. `body` returns the output-row count.
    *
    * The cache scope releases the operators' single-scan caches when the
    * run completes (success or failure): a long-lived driver running
    * dedup over changing inputs would otherwise accumulate one entry per
    * input. SCOPED: it drains only the relations THIS run persisted, so
    * a concurrent dedup job on another driver thread keeps its caches. */
  private def recordedRun[P](spark: SparkSession, tableRoot: String,
      operator: String, probe: String => P)(body: P => Long)(
      counters: P => (Long, Long, Long)): DedupRunResult = {
    val runId = RunBookkeeping.newRunId()
    val p = probe(runId)
    val t0 = System.nanoTime()
    val outputRows = Dedup.withCacheScope(body(p))
    val sec = (System.nanoTime() - t0) / 1e9
    val (buckets, megaDropped, docsInMega) = counters(p)
    val r = DedupRunResult(runId, operator, outputRows, buckets,
      megaDropped, docsInMega, sec)
    RunBookkeeping.appendMetrics(s"$tableRoot/dedup_metrics", runId) {
      import spark.implicits._
      Seq((r.runId, r.operator, r.outputRows, r.buckets,
        r.megaBucketsDropped, r.docsInMegaBuckets, r.durationSec))
        .toDF("run_id", "operator", "output_rows", "buckets",
          "mega_buckets_dropped", "docs_in_mega_buckets", "duration_sec")
    }
    r
  }

  /** The Observation-accounted paths: bucket metrics read through
    * [[RunBookkeeping.count]] (an AQE-pruned CollectMetrics, or a
    * `sum` over an all-dropped run, reads as 0). */
  private def observedRun(spark: SparkSession, tableRoot: String,
      operator: String, body: Observation => Long): DedupRunResult =
    recordedRun(spark, tableRoot, operator,
      runId => Observation(s"dedup-$runId"))(body) { obs =>
      val m = obs.get
      (RunBookkeeping.count(m, "buckets"),
        RunBookkeeping.count(m, "mega_buckets_dropped"),
        RunBookkeeping.count(m, "docs_in_mega_buckets"))
    }

  /** simhash / embedding / lsh near-dups: exact observation-based
    * accounting. The caller builds the pairs DataFrame against the
    * provided Observation (e.g. `Dedup.simhashPairs(df, "text", "id",
    * maxHamming = 3, stats = Some(obs))`). */
  def runObserved(spark: SparkSession, tableRoot: String, operator: String,
      build: Observation => DataFrame): DedupRunResult =
    observedRun(spark, tableRoot, operator, obs => build(obs).count())

  /** ngramJaccardPairs: accumulator-based accounting (the bucket-local
    * flatMapGroups path has no declarative aggregation to observe). */
  def runJaccard(spark: SparkSession, tableRoot: String, operator: String,
      build: Dedup.BucketAccounting => DataFrame): DedupRunResult =
    recordedRun(spark, tableRoot, operator,
      _ => Dedup.BucketAccounting(spark))(acc => build(acc).count()) { acc =>
      (-1L, acc.megaBucketsDropped.value, acc.docsInMegaBuckets.value)
    }

  /** End-to-end content near-dedup over a document frame (the CLI's
    * `--mode dedup`): simhash pairs at the ≤3-bit operating point →
    * transitive clusters → drop list (every cluster member except its
    * min-id keeper) written to `<tableRoot>/dedup_drops`, with the
    * occupancy-drop disclosure row in the metrics table
    * (output_rows = dropped doc count). The observation fills during
    * cluster propagation's own actions — no extra pass over the corpus. */
  def runSimhashDedup(spark: SparkSession, tableRoot: String,
      docs: DataFrame, textCol: String, idCol: String,
      maxHamming: Int = 3): DedupRunResult =
    observedRun(spark, tableRoot, "simhash-cluster-dedup", { obs =>
      import org.apache.spark.sql.functions.col
      val pairs = Dedup.simhashPairs(docs, textCol, idCol,
        maxHamming, stats = Some(obs))
      val drops = Dedup.dupClusters(pairs, "a", "b")
        .filter(col("id") =!= col("cluster"))
        .select(col("id").as("drop_id"))
      drops.write.mode("overwrite").parquet(s"$tableRoot/dedup_drops")
      spark.read.parquet(s"$tableRoot/dedup_drops").count()
    })
}
