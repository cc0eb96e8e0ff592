package graft.pipeline

import java.sql.Timestamp
import org.apache.spark.sql.DataFrame

/** Run bookkeeping shared by [[ExtractionJob]] and [[DedupJob]]: the run
  * id, how an observed metric is read, and the never-throw append of a
  * run's metrics row (reference analog: one listener reports every run,
  * JobStartFinishListener.java:66-79). */
private[pipeline] object RunBookkeeping {

  def newRunId(): String = java.util.UUID.randomUUID().toString.take(8)

  /** A count filled by an `Observation`. AQE's empty-relation
    * propagation can prune a CollectMetrics node (the run completes with
    * the key absent), and `sum` over no rows observes SQL NULL: both
    * mean 0, not an error. */
  def count(metrics: Map[String, Any], key: String): Long =
    metrics.get(key) match {
      case Some(v: java.lang.Long) => v.longValue()
      case _ => 0L
    }

  /** The observed `max_ts`, None when there were no rows (pruned or
    * NULL). Spark hands it back as a `Timestamp`, or as an `Instant`
    * when the session uses the Java 8 datetime API. */
  def maxTs(metrics: Map[String, Any]): Option[Timestamp] =
    metrics.get("max_ts").flatMap(Option(_)).map {
      case t: Timestamp => t
      case i: java.time.Instant => Timestamp.from(i)
    }

  /** Append a run's metrics row to `path`. NEVER throws: a metrics
    * failure must not mask the run's real result — the reference's
    * notification sender swallows its own failures the same way
    * (SlackNotification.java:73-105 catches and logs rather than failing
    * the batch). `row` is built inside the guard. */
  def appendMetrics(path: String, runId: String)(row: => DataFrame): Unit =
    try row.write.mode("append").parquet(path)
    catch {
      case scala.util.control.NonFatal(e) =>
        System.err.println(s"[graft] metrics write to $path failed for " +
          s"run $runId (run result preserved): ${e.getMessage}")
    }
}
