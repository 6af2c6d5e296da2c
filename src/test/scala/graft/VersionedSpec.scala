package graft

import org.apache.spark.sql.functions._
import graft.operators.Versioned

/** Last-writer-wins dedup (W1/S7): aggregate vs window differential and
  * arrival-order permutation invariance (SURVEY §5.3). */
class VersionedSpec extends SparkSpec {
  import spark.implicits._

  private def events(rows: Seq[(Int, Long, String)]) =
    rows.toDF("id", "ver", "payload")

  test("latestByKey == latestByKeyWindow on real data") {
    val ev = graft.sources.Tables.load(spark, sfDir, "events")
    val agg = Versioned.latestByKey(ev, Seq("user_id"), Seq($"ts", $"event_id"))
    val win = Versioned.latestByKeyWindow(ev, Seq("user_id"), Seq($"ts", $"event_id"))
    assertSameRows(agg, win)
    assert(agg.count() == ev.select("user_id").distinct().count())
  }

  test("arrival-order permutation invariance (distinct versions)") {
    val rows = (1 to 50).map(i => (i % 7, i.toLong, s"v$i"))
    val expected = Versioned.latestByKey(events(rows), Seq("id"), Seq($"ver"))
      .collect().map(_.toString).sorted
    // three shuffled arrival orders
    Seq(rows.reverse, rows.sortBy(_._3), scala.util.Random.shuffle(rows.toList))
      .foreach { perm =>
        val got = Versioned.latestByKey(events(perm), Seq("id"), Seq($"ver"))
          .collect().map(_.toString).sorted
        assert(got.sameElements(expected))
      }
  }

  test("version-collision tiebreak is deterministic via secondary column") {
    val rows = Seq((1, 10L, "a"), (1, 10L, "b"), (2, 5L, "x"))
    val out = Versioned.latestByKey(events(rows), Seq("id"), Seq($"ver", $"payload"))
    val picked = out.where($"id" === 1).select("payload").as[String].head()
    assert(picked == "b") // max payload wins the tie
  }

  test("applyChanges drops keys whose latest event is a delete") {
    val state = Seq((1, 1L, "a", false), (2, 1L, "b", false))
      .toDF("id", "ver", "payload", "__deleted")
    val batch = Seq((1, 2L, "a2", false), (2, 2L, "b", true), (3, 1L, "c", false))
      .toDF("id", "ver", "payload", "__deleted")
    val out = Versioned.applyChanges(state, batch, Seq("id"), Seq($"ver"))
    val ids = out.select("id").as[Int].collect().sorted
    assert(ids.sameElements(Array(1, 3)))
    assert(out.where($"id" === 1).select("payload").as[String].head() == "a2")
  }

  test("backfillTotal matches correlated-subquery semantics (A1)") {
    val headers = Seq((1, 0.0), (2, 0.0), (3, 0.0)).toDF("id", "total")
    val details = Seq((1, 10.0), (1, 5.0), (2, 7.5)).toDF("tid", "amount")
    val out = Versioned.backfillTotal(headers, details, "id", "tid",
      $"amount", "total")
    val m = out.select("id", "total").as[(Int, Double)].collect().toMap
    assert(m == Map(1 -> 15.0, 2 -> 7.5, 3 -> 0.0))
  }

  test("scd2History: updates close predecessors, deletes close without opening") {
    val changes = Seq(
      (1, 10L, "r", "v1"), (1, 20L, "u", "v2"), (1, 30L, "d", null),
      (2, 10L, "r", "w1"),                       // never touched again
      (3, 10L, "r", "x1"), (3, 15L, "d", null)   // hard-deleted
    ).toDF("id", "ts", "op", "payload")
    val out = Versioned.scd2History(changes, Seq("id"), Seq("ts"), "op")
      .select($"id", $"ts", $"valid_from", $"valid_to", $"is_current", $"payload")
      .orderBy("id", "valid_from")
      .as[(Int, Long, Long, Option[Long], Boolean, String)].collect()
    assert(out.map(r => (r._1, r._3, r._4, r._5)).sameElements(Array(
      (1, 10L, Some(20L), false),   // closed by the update
      (1, 20L, Some(30L), false),   // closed by the delete, no current row
      (2, 10L, None, true),         // open interval
      (3, 10L, Some(15L), false)    // delete closes, key has no current
    )), out.mkString(", "))
  }

  test("scd2History: order tie-break by secondary column") {
    val changes = Seq(
      (1, 10L, 1L, "r", "a"), (1, 10L, 2L, "u", "b")
    ).toDF("id", "ts", "lsn", "op", "payload")
    val out = Versioned.scd2History(changes, Seq("id"), Seq("ts", "lsn"), "op")
      .select($"payload", $"is_current").as[(String, Boolean)].collect().toMap
    assert(out == Map("a" -> false, "b" -> true))
  }
}
