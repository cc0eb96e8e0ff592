package graft.pipeline

import java.sql.Timestamp
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.model.ExtractedTurn

/** Allow-list for the (case_type, role) dispatch predicate — the
  * engine's analog of the reference's 14-arm
  * `(case_type = 'xx' AND type IN (...))` OR chain
  * (PostgresItemReader.java:121-134). Data-driven so it broadcast-joins
  * instead of compiling a giant boolean expression; unknown case types
  * (like the reference's `a6`/`ff` rows in IngestQueryTest.java:63-81)
  * simply never match.
  */
object AllowList {
  val pairs: Seq[(String, String)] = Seq(
    "a1" -> "user", "a1" -> "assistant", "a1" -> "tool",
    "b5" -> "user", "b5" -> "assistant", "b5" -> "tool",
    "c7" -> "user", "c7" -> "assistant",
    "d8" -> "user", "d8" -> "assistant", "d8" -> "tool",
    "e9" -> "assistant", "e9" -> "tool"
    // a6 deliberately absent — the unknown-case-type analog
  )

  def df(spark: SparkSession): DataFrame =
    spark.createDataFrame(pairs).toDF("case_type", "role")
}

/** The ingest/delete selection predicates (SURVEY.md §2.2, P4-P8). */
object Selection {

  /** Derived case_type = last 2 chars of conv_id (P3 analog of
    * RIGHT(external_reference_uuid::text, 2),
    * PostgresItemReader.java:94). */
  def withCaseType(df: DataFrame): DataFrame =
    df.withColumn("case_type", expr("right(conv_id, 2)"))

  /** Base conjunctive predicate. Order matters twice over: pushed-down
    * conjuncts evaluate left-to-right, so the cheap, selective
    * predicates (ts watermark, role, tool) run before anything that
    * touches the payload column — at 100 TB the `text` bytes of a
    * filtered-out row are never even decoded, and a corrupt payload in
    * an out-of-range row can never fail a scan.
    */
  private def basePredicate(watermark: Timestamp) =
    col("ts") > lit(watermark) &&
      col("role") =!= "system" &&
      (col("tool").isNull || col("tool") =!= "internal") &&
      col("text").isNotNull

  /** Ingest selection: base conjunctive predicate + watermark + the
    * broadcast-semi allow-list join (P4/P6/P7 + J1). Filters push to
    * the parquet scan; the join side is broadcast (small dim).
    */
  def ingest(turns: DataFrame, watermark: Timestamp,
      spark: SparkSession): DataFrame =
    withCaseType(turns.filter(basePredicate(watermark)))
      .join(broadcast(AllowList.df(spark)), Seq("case_type", "role"),
        "left_semi")

  /** Rows rejected by the allow-list — skip-audit (J2). */
  def rejected(turns: DataFrame, watermark: Timestamp,
      spark: SparkSession): DataFrame =
    withCaseType(turns.filter(basePredicate(watermark)))
      .join(broadcast(AllowList.df(spark)), Seq("case_type", "role"),
        "left_anti")

  /** Delete-mode selection with the reference's deliberate 1-week
    * lookback for late/out-of-order rows (PostgresItemReader.java:140-166):
    * re-deliver anything deleted since watermark - 7 days; the sink
    * dedupes keyed last-write-wins.
    */
  def deleteLookback(turns: DataFrame, watermark: Timestamp): DataFrame =
    withCaseType(turns)
      .filter(col("ts") > lit(watermark) - expr("INTERVAL 7 DAYS"))
}

/** The extraction stage: per-turn extraction through the native
  * `ExtractAll` Catalyst expression, then a write-layout rebalance of
  * the (much smaller) output, sized by AQE (SURVEY.md §3.1 engine
  * equivalent).
  */
object ExtractionPipeline {

  /** The output's Hive-style partition columns, in path order
    * (year=/month=/day=, the UTC calendar date of `ts`; analog of
    * DocumentRowMapper.java:52-61). */
  val PartitionCols: Seq[String] = Seq("year", "month", "day")

  /** Run extraction over eligible turns through the native `ExtractAll`
    * Catalyst expression — input UTF8String in, InternalRow out, no
    * Turn/ExtractedTurn object or Encoder round-trip.
    *
    * Extraction is per-turn stateless, so it runs MAP-SIDE — no shuffle
    * of the raw payload bytes. At 100 TB that is the difference between
    * shuffling the whole corpus and shuffling nothing: only the
    * (boilerplate-stripped, much smaller) output is ever repartitioned,
    * and only when the caller asks for write-layout clustering via
    * [[repartitionForWrite]]. The plan stays pure Project/Filter:
    * Catalyst can prune, reorder, and push around it, and a count-only
    * consumer skips extraction entirely.
    */
  def extractExpr(spark: SparkSession, eligible: DataFrame): Dataset[ExtractedTurn] = {
    import spark.implicits._
    // UTC-pinned calendar date regardless of spark.sql.session.timeZone:
    // epoch-seconds → epoch-days → DateType (date_from_unix_date and the
    // year/month/day extractors are pure calendar arithmetic, no zone) —
    // date_format(ts, ...) would partition midnight-adjacent turns
    // by the session's zone instead of the UTC calendar date.
    val utcDate = date_from_unix_date(
      floor(col("ts").cast("long") / lit(86400)).cast("int"))
    eligible
      .withColumn("_x", graft.functions.Expressions.extractAll(col("text")))
      .withColumn("_d", utcDate)
      .select(
        col("conv_id"), col("turn_idx"), col("role"), col("tool"),
        col("ts"),
        col("_x.payload_kind").as("payload_kind"),
        col("_x.extracted_text").as("extracted_text"),
        col("_x.n_spans").as("n_spans"),
        octet_length(col("text")).as("payload_bytes"),
        lit("graft").as("source"),
        lpad(year(col("_d")).cast("string"), 4, "0").as("year"),
        lpad(month(col("_d")).cast("string"), 2, "0").as("month"),
        lpad(dayofmonth(col("_d")).cast("string"), 2, "0").as("day"))
      .as[ExtractedTurn]
  }

  /** Cluster extracted rows for the partitioned write: one AQE
    * rebalance of the small output on (year, month, day, conv_id) —
    * co-locates each output date-partition (bounded file counts) and
    * each conversation's turns. AQE sizes the write to its output:
    * it coalesces the shuffle to `advisoryPartitionSizeInBytes` per
    * task, and `OptimizeSkewInRebalancePartitions` splits a partition
    * above that size (the 1% ~50× heavy conversations) across tasks
    * instead of leaving one straggler.
    */
  def repartitionForWrite(extracted: Dataset[ExtractedTurn]): Dataset[ExtractedTurn] =
    extracted.hint("rebalance", (PartitionCols :+ "conv_id").map(col): _*)
      // stable (conv_id, turn_idx) order inside every output file (O1):
      // downstream readers see turns in order, and parquet min/max
      // column stats stay tight for conv_id point lookups
      .sortWithinPartitions(
        (PartitionCols :+ "conv_id" :+ "turn_idx").map(col): _*)
}
