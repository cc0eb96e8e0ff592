package perfbench

import java.nio.file.{Files, Path, Paths}
import java.sql.Timestamp
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import Inputs.Key

/** Output checks of one operation. Each returns the problems it found;
  * an empty result means the output is correct. */
object Checks {

  /** What one scan of the committed rows yields for the checks. */
  final case class Committed(problems: Seq[String], maxTs: Option[Timestamp],
      charsOut: Long)

  /** Committed rows equal the goldens on (conv_id, turn_idx): the
    * golden-equality join of ExtractionJobSpec scenario 1, done as a hash
    * join on the driver over one scan of the output, and made a full
    * outer join so a missing row counts as well as a wrong one. */
  def committed(out: DataFrame, want: Map[Key, (String, String)]): Committed = {
    val rows = out.select("conv_id", "turn_idx", "payload_kind",
      "extracted_text", "ts").collect()
    val got = rows.map(r => (r.getString(0), r.getInt(1)) ->
      (r.getString(2), r.getString(3)))
    val gotMap = got.toMap
    val wrong = got.count { case (k, v) => !want.get(k).contains(v) }
    val missing = want.keySet.count(k => !gotMap.contains(k))
    val problems = Seq(
      if (wrong > 0) Some(s"$wrong committed rows differ from their goldens, e.g. " +
        got.filter { case (k, v) => !want.get(k).contains(v) }.take(2).map(_._1)
          .mkString(", ")) else None,
      if (missing > 0) Some(s"$missing golden rows are not committed") else None,
      if (gotMap.size != got.length) Some(s"${got.length - gotMap.size} duplicate keys")
      else None).flatten
    Committed(problems,
      if (rows.isEmpty) None else Some(rows.map(_.getTimestamp(4)).maxBy(_.getTime)),
      rows.map(r => Option(r.getString(3)).map(_.length.toLong).getOrElse(0L)).sum)
  }

  /** Events are keyed by conv_id and carry exactly the committed keys. */
  def events(events: DataFrame, want: Set[Key]): Seq[String] = {
    val rows = events.select(col("key"),
      get_json_object(col("value"), "$.convId").as("c"),
      get_json_object(col("value"), "$.turnIdx").cast("int").as("t"))
      .collect()
    val keys = rows.map(r => (r.getString(1), r.getInt(2)))
    Seq(
      if (rows.exists(r => r.getString(0) != r.getString(1)))
        Some("an event key is not its conv_id") else None,
      if (keys.length != want.size || keys.toSet != want)
        Some(s"${keys.length} events (${keys.toSet.size} keys) for " +
          s"${want.size} committed rows") else None).flatten
  }

  /** Tombstone events equal the expected last-write-wins set of
    * (conv_id, turn_idx, deleted-at epoch millis). */
  def tombstones(events: DataFrame,
      want: Set[(String, Int, Long)]): Seq[String] = {
    val got = events.select(
      get_json_object(col("value"), "$.convId"),
      get_json_object(col("value"), "$.turnIdx").cast("int"),
      get_json_object(col("value"), "$.deletedTs").cast("long"))
      .collect().map(r => (r.getString(0), r.getInt(1), r.getLong(2)))
    if (got.length == want.size && got.toSet == want) Seq.empty
    else Seq(s"${got.length} tombstone events, want ${want.size} " +
      s"(${(got.toSet -- want).size} unexpected, " +
      s"${(want -- got.toSet).size} missing)")
  }

  /** The watermark equals the committed maximum ts. */
  def watermark(stored: Timestamp, maxTs: Option[Timestamp]): Seq[String] =
    if (maxTs.contains(stored)) Seq.empty
    else Seq(s"watermark $stored, committed max ts ${maxTs.getOrElse("none")}")

  /** Parquet part files under `dir` (recursively), as sorted paths. */
  def partFiles(dir: Path): Seq[String] =
    if (!Files.exists(dir)) Seq.empty
    else {
      val s = Files.walk(dir)
      try {
        import scala.jdk.CollectionConverters._
        s.iterator().asScala.map(_.toString)
          .filter(p => p.endsWith(".parquet")).toSeq.sorted
      } finally s.close()
    }

  def partFiles(dir: String): Seq[String] = partFiles(Paths.get(dir))

  /** Bytes of every regular file under `dir`. */
  def bytesUnder(dir: String): Long = {
    val p = Paths.get(dir)
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try {
        import scala.jdk.CollectionConverters._
        s.iterator().asScala.filter(Files.isRegularFile(_))
          .map(Files.size).sum
      } finally s.close()
    }
  }
}
