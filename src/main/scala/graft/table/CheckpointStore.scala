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
  * would use. The file is written and read through [[Json]]: exactly one
  * key, `lastSuccessfulCollection`, whose value is the timestamp text
  * (`yyyy-MM-dd HH:mm:ss[.f…]`).
  */
final class CheckpointStore(root: String) {

  private def path(system: String, mode: String): Path =
    Paths.get(root, "checkpoints", system, s"$mode.json")

  /** Read the watermark. `override_` replaces the value (backfill /
    * replay hook — analog of METADATA_LAST_COLLECTION,
    * S3TimestampManager.java:85-95) but the file must still exist and
    * parse. Anything but exactly one non-empty textual
    * `lastSuccessfulCollection` key (malformed JSON, another or a
    * repeated key, a number, text after the object) throws
    * `IllegalStateException` naming the file, mirroring the reference's
    * fail-fast (JobStartFinishListener.java:43-49).
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
    val json = Json.mapper.createObjectNode().put(Key, format(ts))
    val tmp = p.resolveSibling(p.getFileName.toString + ".tmp")
    Files.write(tmp, Json.mapper.writeValueAsBytes(json))
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

  private val Key = "lastSuccessfulCollection"

  /** The watermark text of a well-formed file, else None (the caller
    * fails hard). */
  private def parse(raw: String): Option[String] =
    scala.util.Try(Json.mapper.readTree(raw)).toOption
      .filter(n => n.isObject && n.size == 1)
      .flatMap(n => Option(n.get(Key)))
      .filter(v => v.isTextual && v.asText.nonEmpty)
      .map(_.asText)
}
