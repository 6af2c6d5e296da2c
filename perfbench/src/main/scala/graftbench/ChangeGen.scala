package graftbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, StandardCopyOption}

import scala.collection.mutable

import org.apache.spark.sql.{Row, SparkSession}

/** One `orders` row in the shape of `graft.cdc.CdcSim.ordersRow`: NUMERIC
  * as a string with two decimals, timestamps as ISO strings with `Z`. */
final case class OrderRow(id: Int, customerId: Int, status: String, total: String,
                          orderDate: String, priority: String) {
  def json: String =
    s"""{"id":$id,"customer_id":$customerId,"status":"$status","total_amount":"$total",""" +
      s""""order_date":"$orderDate","priority":"$priority"}"""
}

object OrderRow {
  private val iso = java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd'T'HH:mm:ss'Z'")
    .withZone(java.time.ZoneOffset.UTC)

  def cents(c: Long): String = java.math.BigDecimal.valueOf(c, 2).toPlainString

  /** Reads the generated `orders` table. */
  def load(spark: SparkSession, dataDir: String): Array[OrderRow] =
    spark.read.parquet(s"$dataDir/orders.parquet")
      .selectExpr("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "o_orderdate", "o_orderpriority")
      .collect()
      .map { r: Row =>
        OrderRow(r.getLong(0).toInt, r.getLong(1).toInt, r.getString(2),
          java.math.BigDecimal.valueOf(r.getDouble(3)).setScale(2, java.math.RoundingMode.HALF_UP)
            .toPlainString,
          iso.format(r.getTimestamp(4).toInstant), r.getString(5))
      }
      .sortBy(_.id)
}

/** Seeded Debezium change stream over `orders` with its last-writer-wins
  * oracle. Every event gets a larger `source.ts_ms` and LSN than the one
  * before, so the expected state is the sequential application of the
  * stream. Updated and deleted keys are drawn uniformly over live keys. */
final class ChangeGen(seed: Long, snapshot: Array[OrderRow], nCustomers: Int) {
  private val rnd = new java.util.SplittableRandom(seed)
  private var clock = 1700000000000L
  private var lsn = 1000L
  private val live = mutable.ArrayBuffer.from(snapshot.map(_.id))
  private val slot = mutable.HashMap.from(live.zipWithIndex)
  val state = mutable.HashMap.from(snapshot.map(r => r.id -> r))
  private var nextKey = if (snapshot.isEmpty) 0 else snapshot.map(_.id).max + 1
  private def pickLive(): Int = live(rnd.nextInt(live.size))

  private def tick(): (Long, Long) = { clock += 1; lsn += 1; (clock, lsn) }

  private val statuses = Array("F", "O", "P")
  private val priorities = Array("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")

  private def fresh(id: Int): OrderRow = OrderRow(id, rnd.nextInt(nCustomers),
    statuses(rnd.nextInt(3)), OrderRow.cents(100000L + rnd.nextLong(49900000L)),
    f"2001-${1 + rnd.nextInt(12)}%02d-${1 + rnd.nextInt(28)}%02dT00:00:00Z",
    priorities(rnd.nextInt(5)))

  private def envelope(before: Option[OrderRow], after: Option[OrderRow], op: String): String = {
    val (ts, l) = tick()
    val b = before.map(_.json).getOrElse("null")
    val a = after.map(_.json).getOrElse("null")
    s"""{"payload":{"before":$b,"after":$a,"source":{"version":"2.4.0.Final",""" +
      s""""connector":"postgresql","name":"poc","ts_ms":$ts,"snapshot":"false","db":"poc",""" +
      s""""sequence":null,"schema":"public","table":"orders","txId":$l,"lsn":$l,"xmin":null},""" +
      s""""op":"$op","ts_ms":$ts,"transaction":null}}"""
  }

  /** Snapshot reads (`op=r`) of every row. */
  def snapshotEvents: Array[String] = snapshot.map(r => envelope(None, Some(r), "r"))

  /** `n` change events: `pUpdate` updates, `pInsert` inserts, the rest
    * deletes carrying their before-image. Applies them to [[state]]. */
  def changes(n: Int, pUpdate: Double, pInsert: Double): Array[String] =
    Array.fill(n) {
      val u = rnd.nextDouble()
      if (u < pInsert || live.isEmpty) {
        val r = fresh(nextKey)
        nextKey += 1
        slot(r.id) = live.size; live += r.id
        state(r.id) = r
        envelope(None, Some(r), "c")
      } else {
        val id = pickLive()
        val before = state(id)
        if (u < pInsert + pUpdate) {
          val after = before.copy(status = statuses(rnd.nextInt(3)),
            total = OrderRow.cents(100000L + rnd.nextLong(49900000L)))
          state(id) = after
          envelope(Some(before), Some(after), "u")
        } else {
          // swap-remove from the live list
          val i = slot.remove(id).get
          val last = live.remove(live.size - 1)
          if (last != id) { live(i) = last; slot(last) = i }
          state.remove(id)
          envelope(Some(before), None, "d")
        }
      }
    }
}

object ChangeGen {
  /** Writes envelopes to `dir/name` in the layout `CdcSource.fileStream`
    * reads, one `{"value": "<envelope>"}` object per line. The write is
    * atomic (a hidden temporary file, then a rename), so a file stream
    * never lists a half-written file. Returns the bytes written. */
  def writeFile(dir: Path, name: String, envelopes: Seq[String]): Long = {
    Files.createDirectories(dir)
    val tmp = dir.resolve(s".$name.tmp")
    val lines = envelopes.map(e =>
      "{\"value\":\"" + e.replace("\\", "\\\\").replace("\"", "\\\"") + "\"}")
    val bytes = (lines.mkString("\n") + "\n").getBytes(StandardCharsets.UTF_8)
    Files.write(tmp, bytes)
    Files.move(tmp, dir.resolve(name), StandardCopyOption.ATOMIC_MOVE)
    bytes.length.toLong
  }

  /** Compares visible store rows (id, customer_id, status, total_amount,
    * order_date, priority) with the oracle; returns the mismatches, named. */
  def diff(rows: Array[Row], oracle: collection.Map[Int, OrderRow]): Seq[String] = {
    val got = rows.map(r => OrderRow(r.getInt(0), r.getInt(1), r.getString(2), r.getString(3),
      r.getString(4), r.getString(5)))
    val byId = got.groupBy(_.id)
    val dups = byId.collect { case (id, rs) if rs.length > 1 => s"key $id appears ${rs.length} times" }
    val wrong = oracle.values.flatMap { exp =>
      byId.get(exp.id) match {
        case None => Some(s"key ${exp.id} missing")
        case Some(rs) if rs.head != exp => Some(s"key ${exp.id}: got ${rs.head}, expected $exp")
        case _ => None
      }
    }
    val extra = byId.keys.filterNot(oracle.contains).map(id => s"key $id should be absent")
    (dups ++ wrong ++ extra).toSeq.sorted.take(20)
  }
}
