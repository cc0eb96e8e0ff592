package graft.functions

import org.apache.spark.sql.DataFrame

/** Execution-shape helpers shared by the operator modules. */
object Exec {

  /** Conf key for the reliable-checkpoint switch (round-5 verdict #3).
    * Default off: `localCheckpoint` is the right call in a single-node
    * sandbox — no extra I/O, lineage truncated. On a real cluster an
    * executor loss during a 100 TB clustering run kills the
    * lineage-truncated blocks AND the job; setting this to `true`
    * routes every iterative-operator checkpoint through
    * `RDD.checkpoint()` into `spark.graft.checkpointDir` (or the
    * session's configured checkpoint dir), which survives executor
    * loss. One flag, not a redesign — operator results are identical
    * in both modes (ReliableCheckpointSpec pins it, including
    * unpersist-simulated block loss). */
  val ReliableCheckpointKey = "spark.graft.reliableCheckpoint"
  val CheckpointDirKey = "spark.graft.checkpointDir"

  private def reliableOn(df: DataFrame): Boolean =
    df.sparkSession.conf.getOption(ReliableCheckpointKey)
      .exists(_.trim.equalsIgnoreCase("true"))

  /** Lineage-truncating checkpoint for iterative operators: local (the
    * fast sandbox default) or reliable (cluster fault tolerance) per
    * [[ReliableCheckpointKey]]. Eagerness semantics match
    * `Dataset.localCheckpoint(eager)`. */
  def iterCheckpoint(df: DataFrame, eager: Boolean): DataFrame =
    if (!reliableOn(df)) df.localCheckpoint(eager)
    else {
      val spark = df.sparkSession
      val sc = spark.sparkContext
      if (sc.getCheckpointDir.isEmpty)
        sc.setCheckpointDir(reliableCheckpointDir(
          spark.conf.getOption(CheckpointDirKey), sc.isLocal))
      df.checkpoint(eager)
    }

  /** Directory for reliable checkpoints when the session has none set:
    * [[CheckpointDirKey]] if given; else a temp dir, but only in local
    * mode — on a cluster a driver-local dir is not reliable storage
    * (executors cannot share it), so the run fails naming the key. */
  private[functions] def reliableCheckpointDir(configured: Option[String],
      isLocal: Boolean): String =
    configured.getOrElse {
      if (!isLocal) throw new IllegalStateException(
        s"$ReliableCheckpointKey=true needs a shared checkpoint directory " +
          s"on a cluster: set $CheckpointDirKey")
      java.nio.file.Files.createTempDirectory("graft-ckpt").toString
    }

  /** Release the block-manager storage behind a `localCheckpoint(true)`
    * Dataset (a no-op for a reliable checkpoint, whose data lives in
    * files). Must only be called on a table that will NEVER be read
    * again: local checkpointing truncates lineage, so the persisted
    * blocks ARE the data — unpersisting them makes the Dataset
    * unrecomputable by design. */
  private[functions] def freeLocalCheckpoint(ds: DataFrame): Unit =
    ds.queryExecution.analyzed.collectLeaves().foreach {
      case lr: org.apache.spark.sql.execution.LogicalRDD =>
        lr.rdd.unpersist(blocking = false)
      case _ => ()
    }

  /** Fan a SMALL scan out to the session's parallelism before CPU-heavy
    * per-row work (tokenize / md5-minhash / shingle-hash / vector
    * normalize stages).
    *
    * Why (guide §2.5 "input skew — one huge unsplittable file"): a
    * bench-scale table is a single parquet file of one row group, so the
    * scan yields ONE task and every per-row-expensive map stage above it
    * runs serial while the other cores idle (measured: q31's banded
    * build was a 1.8 s straggler task at sf0.1). The round-robin
    * repartition costs one tiny shuffle of the projected input and buys
    * full parallelism for the map stage.
    *
    * Scale-adaptive, not a local-mode constant: the fan-out applies ONLY
    * when the scan's partition count is below the session's default
    * parallelism. A 100 TB table has millions of row groups — its scans
    * arrive with far more partitions than cores and this is a no-op, so
    * the payload is never gratuitously shuffled at scale (guide §8).
    *
    * Deterministic results: round-robin repartition distributes by row
    * position (with Spark's sort-before-repartition keeping the mapping
    * stable under task retry), and every consumer in this engine is
    * row-order-independent (hash/group/join/window-with-total-tiebreak
    * shapes), so results — and oracle hashes — are unchanged.
    */
  def fanOutForCpu(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    val p = spark.sparkContext.defaultParallelism
    // size-based gate from optimizer statistics — deliberately NOT
    // df.rdd.getNumPartitions, which forces a full physical planning
    // (incl. codegen) of the subtree at query-construction time
    // (measured at ~0.1-0.3 s per call). An input estimated under
    // parallelism × maxPartitionBytes cannot produce a full wave of
    // scan tasks; anything bigger (every real-scale table) passes
    // through untouched.
    val maxSplit = spark.sessionState.conf.filesMaxPartitionBytes
    val size = df.queryExecution.optimizedPlan.stats.sizeInBytes
    if (size < BigInt(p) * maxSplit) df.repartition(p) else df
  }
}
