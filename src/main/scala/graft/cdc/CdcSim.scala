package graft.cdc

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Deterministic Debezium change-stream synthesizer over the harness
  * `orders` table — the test double for the reference's
  * Postgres→Debezium→Kafka leg (which Spark cannot host; SURVEY §2.1
  * S1). Event shape matches the golden capture
  * (`basic_example/value.json:760-842`) including
  * `decimal.handling.mode=string` (NUMERIC transported as string,
  * `debezium-pg-connector.json:19`) and ISO-with-Z timestamps.
  *
  * Rules (pure functions of the order key, so a SQL oracle can
  * recompute the expected post-CDC state relationally):
  *  - every order emits a snapshot read  ("r") at ts_ms = T0 + key·10
  *  - keys ≡ 0 (mod 3) emit an update   ("u") at +5 ms setting
  *    status = 'updated'
  *  - keys ≡ 0 (mod 7) emit a delete    ("d") at +9 ms (after-image
  *    null, before-image populated)
  */
object CdcSim {

  val T0 = 1700000000000L

  /** Row schema of the synthesized `orders` change events (strings-first
    * like the reference's landing layer, `clickhouse.sql:40-50`). */
  val ordersRow: StructType = StructType(Seq(
    StructField("id", IntegerType),
    StructField("customer_id", IntegerType),
    StructField("status", StringType),
    StructField("total_amount", StringType),   // NUMERIC-as-string
    StructField("order_date", StringType),     // ISO with trailing Z
    StructField("priority", StringType)))

  private def rowStruct(status: Column): Column = struct(
    col("o_orderkey").cast("int").as("id"),
    col("o_custkey").cast("int").as("customer_id"),
    status.as("status"),
    col("o_totalprice").cast(DecimalType(12, 2)).cast("string").as("total_amount"),
    concat(date_format(col("o_orderdate"), "yyyy-MM-dd'T'HH:mm:ss"), lit("Z"))
      .as("order_date"),
    col("o_orderpriority").as("priority"))

  private def sourceStruct(tsMs: Column, lsn: Column): Column = struct(
    lit("2.4.0.Final").as("version"),
    lit("postgresql").as("connector"),
    lit("poc").as("name"),
    tsMs.as("ts_ms"),
    lit("false").as("snapshot"),
    lit("poc").as("db"),
    lit(null).cast("string").as("sequence"),
    lit("public").as("schema"),
    lit("orders").as("table"),
    lsn.as("txId"),
    lsn.as("lsn"),
    lit(null).cast("long").as("xmin"))

  private val nullRow: Column = lit(null).cast(ordersRow)

  /** `plan` landed in the artifact store ([[graft.sim.IndexCache]])
    * under `<key>:<cacheKey>`, persisted and counted eagerly like the
    * reference's MV. A hit builds no plan: the session is the active
    * one, and `plan` is only built on a miss or when no session is
    * active. */
  private def landed(key: String, cacheKey: String, plan: => DataFrame): DataFrame = {
    lazy val built = plan
    val spark = SparkSession.getActiveSession.getOrElse(built.sparkSession)
    graft.sim.IndexCache.getOrBuild(spark, s"$key:$cacheKey")(built)
  }

  /** The synthesized envelope stream per source (typically the sf dir)
    * — it plays the role of the Kafka topic (S2): it exists once,
    * independent of how many pipelines consume it, so queries must not
    * pay the synthesis cost repeatedly. */
  def orderEnvelopesCached(cacheKey: String, orders: => DataFrame): DataFrame =
    landed("cdc-envelopes", cacheKey, orderEnvelopes(orders))

  /** One envelope-JSON event stream: columns (key, value) of JSON
    * strings, exactly as a Kafka consumer would see them (S2). */
  def orderEnvelopes(orders0: DataFrame): DataFrame = {
    // JSON encode/decode is the compute cost; spread it across cores
    // (harness parquet is a single row group → a single split otherwise)
    val orders = orders0.repartition(
      orders0.sparkSession.sparkContext.defaultParallelism)
    val key = col("o_orderkey")
    val baseTs = lit(T0) + key * 10L

    def envelope(before: Column, after: Column, op: String,
                 tsOff: Int, lsnOff: Int): Column =
      to_json(struct(struct(
        before.as("before"),
        after.as("after"),
        sourceStruct(baseTs + tsOff, key * 100L + lsnOff).as("source"),
        lit(op).as("op"),
        (baseTs + tsOff).as("ts_ms"),
        lit(null).cast(graft.model.Debezium.txnSchema).as("transaction"))
        .as("payload")))

    val keyJson = to_json(struct(struct(key.cast("int").as("id")).as("payload")))

    val reads = orders.select(keyJson.as("key"),
      envelope(nullRow, rowStruct(col("o_orderstatus")), "r", 0, 0).as("value"))
    val updates = orders.where(key % 3 === 0)
      .select(keyJson.as("key"),
        envelope(rowStruct(col("o_orderstatus")), rowStruct(lit("updated")),
          "u", 5, 1).as("value"))
    val deletes = orders.where(key % 7 === 0)
      .select(keyJson.as("key"),
        envelope(rowStruct(when(key % 3 === 0, "updated").otherwise(col("o_orderstatus"))),
          nullRow, "d", 9, 2).as("value"))

    reads.unionByName(updates).unionByName(deletes)
  }

  /** The flagship pipeline (§3.1): envelope JSON → decode → unwrap with
    * delete application → last-writer-wins current state keyed by id,
    * versioned by (source.ts_ms, lsn). Batch form of the streaming MV +
    * ReplacingMergeTree+FINAL stack. */
  def currentState(rawEnvelopes: DataFrame): DataFrame =
    currentStateFromDecoded(
      EnvelopeDecode.decode(rawEnvelopes, ordersRow))

  /** [[currentState]] over an already-decoded envelope frame (the
    * `_env` struct from [[EnvelopeDecode.decode]]) — the post-Jackson
    * half of the pipeline, pure column ops. */
  def currentStateFromDecoded(decoded: DataFrame): DataFrame = {
    val opts = DecodeOptions(deletePolicy = DeletePolicy.Apply)
    val changes = EnvelopeDecode.unwrap(decoded, ordersRow, opts)
    val latest = graft.operators.Versioned.latestByKey(
      changes, Seq("id"), Seq(col("__ts_ms"), col("__lsn")))
    latest.where(!col("__deleted"))
  }

  /** Landed decoded-envelope layer per cache key: the full `_env`
    * struct (before / after / source / op / ts_ms / transaction),
    * Jackson paid ONCE at ingest — the analog of the reference's
    * landing MV. Every change-stream consumer (delete-policy/mask
    * variants, SCD2 history, op accounting, current state) is then pure
    * column ops over this artifact instead of a per-query JSON parse
    * (q62 measured 1.2 s/query re-decoding at sf0.1; the unwrap off
    * this layer is ~0.1 s). Only the decoded struct is landed — carrying
    * the raw JSON strings through the persist would double the artifact
    * for no consumer. */
  def decodedEnvelopesCached(cacheKey: String, rawEnvelopes: => DataFrame): DataFrame =
    landed("cdc-decoded", cacheKey,
      EnvelopeDecode.decode(rawEnvelopes, ordersRow).select(col("_env")))

  /** Materialized [[currentState]] per cache key — the analog of the
    * reference's ReplacingMergeTree TABLE: ClickHouse pays the envelope
    * decode once at INGEST (the materialized view), and every analytics
    * query reads the landed table. Re-running the JSON decode per
    * analytical query would charge the ingest cost to every reader —
    * the exact pattern the reference's MV → table split exists to
    * avoid. Built off the shared decoded layer, so warm() pays Jackson
    * once for ALL change-stream consumers. */
  def currentStateCached(cacheKey: String, rawEnvelopes: => DataFrame): DataFrame =
    landed("cdc-state", cacheKey,
      currentStateFromDecoded(decodedEnvelopesCached(cacheKey, rawEnvelopes)))
}
