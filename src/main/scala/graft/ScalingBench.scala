package graft

import org.apache.spark.sql.functions.{col, count, lit, octet_length, sum}

/** One parallelism level of the scaling evidence (BASELINE.json north
  * rule: ≥0.8 efficiency from N to 4N executors), measured without a
  * cluster: the same extraction job runs at several local[N] levels
  * over identical input, one fresh JVM per level:
  * `tools/scaling.sh` starts this main once per level with
  * `SPARK_GRAFT_BENCH_LEVEL=N`, and `tools/scaling_report.py` assembles
  * the levels together with its own CPU- and memory-ceiling benches.
  * Levels share no JVM because same-JVM SparkContext churn contaminates
  * cross-level timings.
  *
  * Prints one JSON line: {"level", "rows", "sec", "task_sec", "all",
  * "attempts"}.
  */
object ScalingBench {

  def main(args: Array[String]): Unit = {
    val nConvs = sys.env.getOrElse("SPARK_GRAFT_BENCH_CONVS", "40000").toInt
    val reps = sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "3").toInt

    val lvl = sys.env.getOrElse("SPARK_GRAFT_BENCH_LEVEL",
      sys.error("SPARK_GRAFT_BENCH_LEVEL required (tools/scaling.sh sets it)"))
    // measured path = parquet scan → selection → extraction → count:
    // the real job shape. Input is materialized once outside the
    // measurement (generation would otherwise dominate allocation).
    val paraScale = sys.env.getOrElse("SPARK_GRAFT_BENCH_PARASCALE", "1").toInt
    val input = {
      val prep = Bench.session("16")
      prep.sparkContext.setLogLevel("ERROR")
      try Bench.materializeInput(prep, nConvs, paraScale)
      finally prep.stop()
    }
    // ONE session for warmup + all reps: every new SparkSession loads
    // codegen/lambda classes through a fresh classloader, resetting
    // JIT profiles (observed 158s → 25s → 8.8s decay across fresh
    // sessions in one JVM). Within a session, steady state arrives by
    // rep 2.
    val spark = Bench.session(lvl)
    spark.sparkContext.setLogLevel("ERROR")
    // task-second accounting: sum of executorRunTime per measured rep
    // feeds the report's efficiency decomposition (work inflation ×
    // utilization — see BENCH/BASELINE.md)
    val taskSec = new java.util.concurrent.atomic.AtomicLong
    spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(t: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
        taskSec.addAndGet(t.taskMetrics.executorRunTime)
    })
    def once(): (Double, Double) = {
      val turns = spark.read.parquet(input)
      val eligible = graft.pipeline.Selection.ingest(
        turns, graft.fixtures.TranscriptGen.WatermarkTs, spark)
      val t0 = System.nanoTime()
      // sum(octet_length(extracted_text)) forces the extraction (O(1)
      // per row, unlike length()'s O(n) char count — ~17% of measured
      // work was the forcing aggregate itself); bare count() would let
      // Catalyst prune the extractall projection
      val r = graft.pipeline.ExtractionPipeline.extractExpr(spark, eligible)
        .agg(count(lit(1)), sum(octet_length(col("extracted_text")))).head()
      (r.getLong(0).toDouble, (System.nanoTime() - t0) / 1e9)
    }
    once(); once() // warmup to C2 steady state

    // noise rejection: the host is shared — discard reps where CPU
    // not attributable to this JVM exceeds half a core
    // host attribution shared with Bench via HostProbe
    def measured(): Option[(Double, Double, Double)] = {
      val b0 = HostProbe.busyJiffies()
      val my0 = HostProbe.processCpuNanos()
      val g0 = HostProbe.gcMillis()
      taskSec.set(0L)
      val t0 = System.nanoTime()
      val r = once()
      val wall = (System.nanoTime() - t0) / 1e9
      val my1 = HostProbe.processCpuNanos()
      val mySec = (my1 - my0) / 1e9
      val gcSec = (HostProbe.gcMillis() - g0) / 1e3
      val otherCores = HostProbe.foreignCores(b0, HostProbe.busyJiffies(),
        my0, my1, wall)
      Thread.sleep(200) // let onTaskEnd events drain
      // per-rep attribution: how many cores the job actually used and
      // how much of the window went to GC — the 16→32 diagnosis data
      System.err.println(f"[scaling] rep wall=$wall%.3f cpuCores=${mySec / wall}%.1f gcSec=$gcSec%.2f otherCores=$otherCores%.1f taskSec=${taskSec.get / 1e3}%.1f")
      if (otherCores > 0.5) {
        System.err.println(f"[scaling] rep rejected: external load $otherCores%.1f cores")
        None
      } else Some((r._1, r._2, taskSec.get / 1e3))
    }
    val clean = scala.collection.mutable.ArrayBuffer.empty[(Double, Double, Double)]
    var attempts = 0
    while (clean.length < reps && attempts < reps * 5) {
      measured().foreach(clean += _); attempts += 1
    }
    spark.stop()
    require(clean.nonEmpty, "no clean reps — host too noisy")
    val (rows, sec, bestTaskSec) = clean.minBy(_._2)
    println(f"""{"level":$lvl,"rows":$rows%.0f,"sec":$sec%.3f,"task_sec":$bestTaskSec%.3f,"all":[${clean.map(r => f"${r._2}%.3f").mkString(",")}],"attempts":$attempts}""")
  }
}
