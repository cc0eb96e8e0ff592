package graft.table

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.sql.Timestamp

/** Watermark checkpoint store — the engine analog of the reference's
  * S3 JSON watermark objects
  * (`decs/<sys>/{ingests,deletes}.json` → {"lastSuccessfulCollection": ts},
  * S3TimestampManager.java:57-98). One file per (system × mode); the
  * value only advances after the run's output is durably committed
  * (TxaKafkaItemWriter.java:90-140 invariant).
  *
  * Local filesystem implementation with atomic rename; the layout and
  * JSON shape are identical to what an object-store implementation
  * would use.
  */
final class CheckpointStore(root: String) {

  private def path(system: String, mode: String): Path =
    Paths.get(root, "checkpoints", system, s"$mode.json")

  /** Read the watermark. `override_` replaces the value (backfill /
    * replay hook — analog of METADATA_LAST_COLLECTION,
    * S3TimestampManager.java:85-95) but the file must still exist and
    * parse; malformed JSON is a hard failure, mirroring the
    * reference's fail-fast (JobStartFinishListener.java:43-49).
    */
  def read(system: String, mode: String,
      override_ : Option[String] = None): Timestamp = {
    val p = path(system, mode)
    val raw = new String(Files.readAllBytes(p), StandardCharsets.UTF_8)
    val fromFile = parse(raw).getOrElse(
      throw new IllegalStateException(
        s"malformed watermark file $p: $raw"))
    Timestamp.valueOf(override_.getOrElse(fromFile))
  }

  /** Atomically persist an advanced watermark (write temp + rename). */
  def write(system: String, mode: String, ts: Timestamp): Unit = {
    val p = path(system, mode)
    Files.createDirectories(p.getParent)
    val json = s"""{"lastSuccessfulCollection": "${format(ts)}"}"""
    val tmp = p.resolveSibling(p.getFileName.toString + ".tmp")
    Files.write(tmp, json.getBytes(StandardCharsets.UTF_8))
    Files.move(tmp, p, StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING)
  }

  /** Seed a checkpoint if absent (test/bootstrap helper). */
  def seed(system: String, mode: String, ts: Timestamp): Unit =
    if (!Files.exists(path(system, mode))) write(system, mode, ts)

  private def format(ts: Timestamp): String = {
    val s = ts.toString // yyyy-MM-dd HH:mm:ss.f…
    if (s.endsWith(".0")) s.dropRight(2) else s
  }

  /** Minimal single-key JSON parse for
    * {"lastSuccessfulCollection": "<ts>"} — tolerant of whitespace,
    * strict about the key (malformed ⇒ None ⇒ caller fails hard). */
  private def parse(raw: String): Option[String] = {
    val m = """\{\s*"lastSuccessfulCollection"\s*:\s*"([^"]+)"\s*\}""".r
    raw.trim match {
      case m(v) => Some(v)
      case _ => None
    }
  }
}
