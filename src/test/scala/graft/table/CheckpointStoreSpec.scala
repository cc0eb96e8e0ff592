package graft.table

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}
import java.sql.Timestamp
import org.scalatest.funsuite.AnyFunSuite

/** The watermark file's fail-fast (the reference's Jackson read,
  * S3TimestampManager.java:122-132): anything but exactly one textual
  * `lastSuccessfulCollection` key fails the read with an
  * `IllegalStateException` naming the file, also when an override
  * replaces the value. */
class CheckpointStoreSpec extends AnyFunSuite {

  private val Ts = "2023-03-22 11:59:59"

  private def storeWith(raw: String): (CheckpointStore, Path) = {
    val root = Files.createTempDirectory("ckpt-").toString
    val p = Paths.get(root, "checkpoints", "cs", "ingest.json")
    Files.createDirectories(p.getParent)
    Files.write(p, raw.getBytes(UTF_8))
    (new CheckpointStore(root), p)
  }

  private def assertRejected(raw: String,
      override_ : Option[String] = None): Unit = {
    val (store, p) = storeWith(raw)
    val e = intercept[IllegalStateException](
      store.read("cs", "ingest", override_))
    assert(e.getMessage.contains(p.toString), e.getMessage)
  }

  test("malformed JSON fails naming the file") {
    assertRejected(s"""{"lastSuccessfulCollection": "$Ts"""")
    assertRejected(s"""{"lastSuccessfulCollection": "$Ts",}""")
    assertRejected("")
  }

  test("a wrong key fails naming the file") {
    assertRejected(s"""{"lastCollection": "$Ts"}""")
  }

  test("an extra or repeated key fails naming the file") {
    assertRejected(s"""{"lastSuccessfulCollection": "$Ts", "x": "y"}""")
    assertRejected(
      s"""{"lastSuccessfulCollection": "$Ts", "lastSuccessfulCollection": "$Ts"}""")
  }

  test("a numeric value fails naming the file") {
    assertRejected("""{"lastSuccessfulCollection": 1679486399}""")
  }

  test("text after the object fails naming the file") {
    assertRejected(s"""{"lastSuccessfulCollection": "$Ts"} x""")
    assertRejected(s"""{"lastSuccessfulCollection": "$Ts"}{}""")
  }

  test("whitespace and newlines around the tokens parse") {
    val (store, _) = storeWith(
      s"""\n  {\n\t"lastSuccessfulCollection" :\n  "$Ts"\n}\n\n""")
    assert(store.read("cs", "ingest") == Timestamp.valueOf(Ts))
  }

  test("an override replaces the value; a malformed file still fails") {
    val (store, _) = storeWith(s"""{"lastSuccessfulCollection": "$Ts"}""")
    assert(store.read("cs", "ingest", Some("2020-01-01 00:00:00")) ==
      Timestamp.valueOf("2020-01-01 00:00:00"))
    assertRejected(s"""{"lastCollection": "$Ts"}""",
      override_ = Some("2020-01-01 00:00:00"))
  }

  test("write then read round-trips whole and fractional seconds") {
    val store = new CheckpointStore(
      Files.createTempDirectory("ckpt-").toString)
    Seq(Ts, "2023-03-22 11:59:59.5", "2023-03-22 11:59:59.123456")
      .map(Timestamp.valueOf).foreach { ts =>
        store.write("cs", "delete", ts)
        assert(store.read("cs", "delete") == ts)
      }
    // seed leaves an existing watermark alone
    store.seed("cs", "delete", Timestamp.valueOf("2000-01-01 00:00:00"))
    assert(store.read("cs", "delete") ==
      Timestamp.valueOf("2023-03-22 11:59:59.123456"))
  }
}
