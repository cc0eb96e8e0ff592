package perfbench

import java.sql.Timestamp
import scala.collection.mutable
import org.apache.spark.sql.{Dataset, SparkSession}
import graft.fixtures.TranscriptGen
import graft.fixtures.TranscriptGen.{GenConfig, Golden}
import graft.model.Turn
import graft.pipeline.AllowList

/** Seeded workload inputs, built only from [[TranscriptGen]].
  *
  * TranscriptGen draws conversation lengths from a heavy tail (90% of
  * 2-10 turns, 9% of 20-59, 1% of 200-399) and a case type per
  * conversation that decides which of its turns are eligible. At a few
  * hundred conversations the length and case type of the one long
  * conversation alone move the eligible row count by ±25% from seed to
  * seed, so a seed would change the amount of work, not just its
  * content. [[profiled]] fixes the profile instead: 90% short
  * conversations (every length 2-10 equally often), 9% medium (lengths
  * 22, 26, …, 54 in rotation) and 1% long, with case types in a fixed
  * rotation; each slot takes the first conversation of that length and
  * case type, with the expected number of eligible turns, in the seed's
  * own stream. Every seed then has the same skew and the same eligible
  * rows, with different content.
  */
object Inputs {

  // TranscriptGen's case types and the roles it draws before any
  // system-role override
  private val CaseTypes = Vector("a1", "a6", "b5", "c7", "d8", "e9")
  private val Roles = Seq("user", "assistant", "tool")
  private val allowed: Set[(String, String)] = AllowList.pairs.toSet

  /** The fixed (length, case type) profile of `nConvs` (a multiple of
    * 10) conversations: per 10, nine short ones (one of each length
    * 2-10) and one medium (22, 26, …, 54 in rotation); with `long`, one
    * per 100 (at least one) of those medium ones is long instead, the
    * long ones spread over 210-390 turns. */
  def profile(nConvs: Int, long: Boolean = true): Seq[(Int, String)] = {
    require(nConvs % 10 == 0, s"nConvs must be a multiple of 10: $nConvs")
    val blocks = nConvs / 10
    val nLong = if (long) math.max(1, nConvs / 100) else 0
    val longs =
      if (nLong <= 1) Seq.fill(nLong)(300)
      else (0 until nLong).map(b => 210 + 180 * b / (nLong - 1))
    val medium = (0 until blocks - nLong).map(k => 22 + 4 * (k % 9))
    val lengths = (0 until blocks).flatMap(_ => 2 to 10) ++ medium ++ longs
    lengths.zipWithIndex.map { case (l, i) => l -> CaseTypes(i % CaseTypes.size) }
  }

  /** Conversation indices of the seed's stream, from index `from` on,
    * that match `profile`, in profile order. Each also has exactly the
    * expected number of eligible turns for its length and case type, so
    * the eligible row count does not vary with the seed either; with
    * `rebased`, the turns will be moved after the watermark, so none is
    * stale. */
  def profiled(cfg: GenConfig, nConvs: Int, long: Boolean = true,
      from: Long = 0L, rebased: Boolean = false): Vector[Long] = {
    val slots = profile(nConvs, long)
    val need = mutable.Map.empty[(Int, String), Int].withDefaultValue(0)
    slots.foreach(s => need(s) += 1)
    val small = cfg.copy(paraScale = 1) // same turns, smaller payloads
    def eligibleTurns(i: Long): Int = TranscriptGen.turnsForConv(small, i)
      .count { case (t, _) =>
        selectable(t) && (rebased || t.ts.after(TranscriptGen.WatermarkTs))
      }
    def expectedTurns(l: Int, ct: String): Int = {
      val share = Roles.count(r => allowed((ct, r))).toDouble / Roles.size
      val fresh = if (rebased) 1.0 else 1 - cfg.staleFrac
      math.round(l * share * fresh *
        (1 - cfg.systemRoleFrac) * (1 - cfg.internalToolFrac)).toInt
    }
    val needLen = mutable.Map.empty[Int, Int].withDefaultValue(0)
    slots.foreach(s => needLen(s._1) += 1)
    val found = mutable.Map.empty[(Int, String), mutable.Queue[Long]]
    var left = nConvs
    var i = from
    while (left > 0) {
      val l = TranscriptGen.convLength(cfg, i)
      if (needLen(l) > 0) {
        val slot = (l, TranscriptGen.convId(cfg, i).takeRight(2))
        if (need(slot) > 0 && eligibleTurns(i) == expectedTurns(slot._1, slot._2)) {
          need(slot) -= 1; needLen(l) -= 1; left -= 1
          found.getOrElseUpdate(slot, mutable.Queue.empty) += i
        }
      }
      i += 1
    }
    slots.map(s => found(s).dequeue()).toVector
  }

  /** Every generated (turn, golden) of the given conversations, on the
    * driver — the benchmark's own copy for computing expected outputs. */
  def rows(cfg: GenConfig, convs: Seq[Long]): Vector[(Turn, Golden)] =
    convs.iterator.flatMap(TranscriptGen.turnsForConv(cfg, _)).toVector

  /** The same turns as a distributed dataset (generated on executors). */
  def dataset(spark: SparkSession, cfg: GenConfig,
      convs: Seq[Long]): Dataset[Turn] = {
    import spark.implicits._
    spark.createDataset(convs)
      .flatMap(i => TranscriptGen.turnsForConv(cfg, i).map(_._1))
  }

  /** The ingest selection contract, stated independently of the program:
    * fresh (after the watermark) and [[selectable]]. */
  def eligible(t: Turn, watermark: Timestamp): Boolean =
    t.ts.after(watermark) && selectable(t)

  /** Not a system turn, not an internal tool call, non-null payload, and
    * an allow-listed (case type, role). */
  def selectable(t: Turn): Boolean =
    t.role != "system" && t.tool != "internal" && t.text != null &&
      allowed.contains((t.conv_id.takeRight(2), t.role))

  /** Key of a committed row. */
  type Key = (String, Int)

  /** Expected committed content per key: (payload kind, extracted text). */
  def expected(rows: Seq[(Turn, Golden)],
      keep: Turn => Boolean): Map[Key, (String, String)] =
    rows.collect { case (t, g) if keep(t) =>
      (t.conv_id, t.turn_idx) -> (g.payload_kind, g.extracted_text)
    }.toMap
}
