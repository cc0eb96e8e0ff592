package graft.table

import com.fasterxml.jackson.core.StreamReadFeature
import com.fasterxml.jackson.databind.{DeserializationFeature, ObjectMapper}
import com.fasterxml.jackson.databind.json.JsonMapper

/** The one JSON codec for the job's metadata: snapshot manifests,
  * watermark files and IngestApp's status line (Jackson, as the
  * reference reads its watermark, S3TimestampManager.java:122-132).
  * Reads are strict: a repeated key or anything after the value fails. */
private[graft] object Json {
  val mapper: ObjectMapper = JsonMapper.builder()
    .enable(StreamReadFeature.STRICT_DUPLICATE_DETECTION)
    .enable(DeserializationFeature.FAIL_ON_TRAILING_TOKENS)
    .build()
}
