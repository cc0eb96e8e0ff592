package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.execution.LogicalRDD

/** Round-5 verdict #3: the iterative operators' lineage truncation must
  * have a cluster-fault-tolerant mode. Default = localCheckpoint (fast,
  * sandbox-right); `spark.graft.reliableCheckpoint=true` routes through
  * RDD.checkpoint() to a reliable directory. Pins: identical results in
  * both modes (clusters + star + deep pagerank), and the reliable
  * mode's results survive losing the in-memory blocks (unpersist
  * simulation — exactly what an executor loss does to a local
  * checkpoint). */
class ReliableCheckpointSpec extends SparkSpec {
  import spark.implicits._

  private def withReliable[T](body: => T): T = {
    spark.conf.set(Exec.ReliableCheckpointKey, "true")
    try body
    finally spark.conf.unset(Exec.ReliableCheckpointKey)
  }

  private val edges = Seq(
    (1L, 2L), (2L, 3L), (10L, 11L), (11L, 12L), (12L, 13L),
    (20L, 21L), (21L, 20L), (7L, 7L)).toDF("a", "b")

  test("q50/q59-shaped clustering: identical labels in both modes") {
    def m(d: org.apache.spark.sql.DataFrame) =
      d.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val localLabels = m(Dedup.dupClusters(edges, "a", "b"))
    val localStar = m(Dedup.dupClustersStar(edges, "a", "b"))
    val (relLabels, relStar) = withReliable {
      (m(Dedup.dupClusters(edges, "a", "b")),
        m(Dedup.dupClustersStar(edges, "a", "b")))
    }
    assert(relLabels == localLabels)
    assert(relStar == localStar)
  }

  test("deep pagerank (iters=10, periodic truncation): identical in both modes") {
    val e = Seq((1L, 2L), (2L, 3L), (3L, 4L), (1L, 4L), (5L, 6L))
      .toDF("sa", "sb")
    def m(d: org.apache.spark.sql.DataFrame) =
      d.collect().map(r => (r.getLong(0), (r.getLong(1), r.getLong(2)))).toMap
    val local = m(Corpus.pagerank(e, iters = 10))
    Dedup.releaseCaches()
    val rel = withReliable { m(Corpus.pagerank(e, iters = 10)) }
    Dedup.releaseCaches()
    assert(rel == local)
  }

  test("reliable-mode result survives losing its in-memory blocks") {
    val (relDf, expect) = withReliable {
      val d = Dedup.dupClustersStar(edges, "a", "b")
      (d, d.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap)
    }
    // simulate executor loss: drop every persisted block behind the
    // result's checkpointed leaves. A LOCAL checkpoint is unrecoverable
    // after this (its blocks ARE the data); a reliable checkpoint
    // re-reads the checkpoint files.
    relDf.queryExecution.analyzed.collectLeaves().foreach {
      case lr: LogicalRDD => lr.rdd.unpersist(blocking = true)
      case _ => ()
    }
    val again = relDf.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(again == expect)
  }

  test("reliable mode on a cluster with no checkpoint dir fails naming the key") {
    val e = intercept[IllegalStateException](
      Exec.reliableCheckpointDir(configured = None, isLocal = false))
    assert(e.getMessage.contains(Exec.CheckpointDirKey), e.getMessage)
    // a configured dir is used as given, local or not
    assert(Exec.reliableCheckpointDir(Some("/shared/ckpt"), isLocal = false) ==
      "/shared/ckpt")
  }
}
