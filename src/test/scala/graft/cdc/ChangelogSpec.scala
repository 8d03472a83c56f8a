package graft.cdc

import graft.SparkSpec
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

/** Changelog MERGE semantics over hand-built event batches: sentinel
  * keep-previous, explicit NULL set, delete fences, re-insert after
  * delete, untouched base rows. */
class ChangelogSpec extends SparkSpec {

  private val cols = Seq("name", "status")

  private def wireEvents(rows: Seq[(String, Long, String, Map[String, String])]) = {
    import scala.jdk.CollectionConverters._
    val s = spark
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("operation", org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("table", org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("lsn", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("old_values",
        org.apache.spark.sql.types.MapType(org.apache.spark.sql.types.StringType, org.apache.spark.sql.types.StringType)),
      org.apache.spark.sql.types.StructField("new_values",
        org.apache.spark.sql.types.MapType(org.apache.spark.sql.types.StringType, org.apache.spark.sql.types.StringType))))
    val data = rows.map { case (op, lsn, tbl, img) =>
      val (old, neu) =
        if (op == "DELETE") (img, null) else (null: Map[String, String], img)
      Row(op, tbl, lsn, old, neu)
    }
    s.createDataFrame(data.asJava, schema)
  }

  private def base = {
    import spark.implicits._
    Seq(("1", "one", "active"), ("2", "two", "active")).toDF("id", "name", "status")
  }

  private def stateOf(events: Seq[(String, Long, String, Map[String, String])]): Set[(String, String, String)] =
    Changelog.apply(base, wireEvents(events), "t", "id", cols)
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(2))).toSet

  test("insert adds a row; untouched base rows survive") {
    assert(stateOf(Seq(
      ("INSERT", 1, "t", Map("id" -> "3", "name" -> "three", "status" -> "new")))) ==
      Set(("1", "one", "active"), ("2", "two", "active"), ("3", "three", "new")))
  }

  test("update with TOAST sentinel keeps the previous value") {
    assert(stateOf(Seq(
      ("UPDATE", 1, "t", Map("id" -> "1", "name" -> CdcEvent.UnchangedSentinel, "status" -> "idle")))) ==
      Set(("1", "one", "idle"), ("2", "two", "active")))
  }

  test("update explicitly setting NULL beats the base value") {
    assert(stateOf(Seq(
      ("UPDATE", 1, "t", Map("id" -> "1", "name" -> null, "status" -> "x")))) ==
      Set(("1", null, "x"), ("2", "two", "active")))
  }

  test("delete removes the row") {
    assert(stateOf(Seq(
      ("DELETE", 1, "t", Map("id" -> "2", "name" -> "two", "status" -> "active")))) ==
      Set(("1", "one", "active")))
  }

  test("delete fences history: re-insert does not inherit pre-delete values") {
    assert(stateOf(Seq(
      ("UPDATE", 1, "t", Map("id" -> "1", "name" -> "pre-del", "status" -> "pre")),
      ("DELETE", 2, "t", Map("id" -> "1")),
      ("INSERT", 3, "t", Map("id" -> "1", "name" -> "reborn", "status" -> CdcEvent.UnchangedSentinel)))) ==
      // status sentinel after the fence: no live value, falls back to base
      Set(("1", "reborn", "active"), ("2", "two", "active")))
  }

  private def stateOfBatches(batches: Seq[Seq[(String, Long, String, Map[String, String])]]) =
    Changelog.applyBatches(base,
      batches.zipWithIndex.map { case (b, i) => wireEvents(b).withColumn("batch", lit(i.toLong)) }
        .reduce(_ union _), "t", "id", cols)
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(2))).toSet

  test("applyBatches: a deleting batch fences off the base row and older batches; batch order beats lsn order") {
    assert(stateOfBatches(Seq(
      Seq(("UPDATE", 7, "t", Map("id" -> "1", "name" -> "b0", "status" -> CdcEvent.UnchangedSentinel))),
      Seq(("DELETE", 5, "t", Map("id" -> "1"))),
      // lower lsns than the batches before, yet applied after them
      Seq(("INSERT", 1, "t", Map("id" -> "1", "status" -> "back")),
        ("UPDATE", 2, "t", Map("id" -> "2", "name" -> CdcEvent.UnchangedSentinel, "status" -> "s2"))))) ==
      Set(("1", null, "back"), ("2", "two", "s2")))
    // a delete that is not a batch's last event on the key fences only
    // that batch's older cells: the column falls through to the batch before
    assert(stateOfBatches(Seq(
      Seq(("UPDATE", 1, "t", Map("id" -> "1", "name" -> "b0", "status" -> "s0"))),
      Seq(("UPDATE", 2, "t", Map("id" -> "1", "name" -> "dead", "status" -> "dead")),
        ("DELETE", 3, "t", Map("id" -> "1")),
        ("INSERT", 4, "t", Map("id" -> "1", "name" -> CdcEvent.UnchangedSentinel, "status" -> "s1"))))) ==
      Set(("1", "b0", "s1"), ("2", "two", "active")))
  }

  test("last event wins in lsn order, not input order") {
    assert(stateOf(Seq(
      ("UPDATE", 5, "t", Map("id" -> "1", "name" -> "late", "status" -> "s2")),
      ("UPDATE", 1, "t", Map("id" -> "1", "name" -> "early", "status" -> "s1")))) ==
      Set(("1", "late", "s2"), ("2", "two", "active")))
  }

  test("key whose last event is delete disappears even after earlier insert") {
    assert(stateOf(Seq(
      ("INSERT", 1, "t", Map("id" -> "9", "name" -> "ephemeral", "status" -> "a")),
      ("DELETE", 2, "t", Map("id" -> "9")))) ==
      Set(("1", "one", "active"), ("2", "two", "active")))
  }

  test("truncate empties the table: base rows and every prior event die") {
    assert(stateOf(Seq(
      ("INSERT", 1, "t", Map("id" -> "3", "name" -> "pre", "status" -> "a")),
      ("TRUNCATE", 2, "t", null))) ==
      Set.empty[(String, String, String)])
  }

  test("truncate fences history: only re-inserts after the LAST truncate survive") {
    assert(stateOf(Seq(
      ("INSERT", 1, "t", Map("id" -> "3", "name" -> "dead", "status" -> "a")),
      ("TRUNCATE", 2, "t", null),
      ("INSERT", 3, "t", Map("id" -> "4", "name" -> "alive", "status" -> "b")),
      ("TRUNCATE", 4, "t", null),
      ("INSERT", 5, "t", Map("id" -> "5", "name" -> "current", "status" -> "c")))) ==
      Set(("5", "current", "c")))
    // sentinel after a truncate has no base to fall back to: stays null
    assert(stateOf(Seq(
      ("TRUNCATE", 1, "t", null),
      ("INSERT", 2, "t", Map("id" -> "1", "name" -> CdcEvent.UnchangedSentinel, "status" -> "x")))) ==
      Set(("1", null, "x")))
  }

  test("truncate on another table leaves this table untouched") {
    assert(stateOf(Seq(
      ("TRUNCATE", 1, "other", null),
      ("UPDATE", 2, "t", Map("id" -> "1", "name" -> "kept", "status" -> "active")))) ==
      Set(("1", "kept", "active"), ("2", "two", "active")))
  }

  test("scd2: versions, sentinel inheritance, delete fence, base intervals, current slice") {
    val events = Seq(
      ("INSERT", 10L, "t", Map("id" -> "3", "name" -> "three", "status" -> "new")),
      ("UPDATE", 20L, "t", Map("id" -> "3", "name" -> CdcEvent.UnchangedSentinel, "status" -> "hot")),
      ("DELETE", 30L, "t", Map("id" -> "3")),
      // re-insert with a sentinel: must NOT inherit "three"/"hot"
      ("INSERT", 40L, "t", Map("id" -> "3", "name" -> CdcEvent.UnchangedSentinel, "status" -> "back")),
      ("UPDATE", 50L, "t", Map("id" -> "1", "name" -> "one-b", "status" -> CdcEvent.UnchangedSentinel)))
    val out = Changelog.scd2(base, wireEvents(events), "t", "id", cols)
      .collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2),
        r.getLong(3), if (r.isNullAt(4)) -1L else r.getLong(4), r.getBoolean(5)))
      .toSet
    assert(out == Set(
      ("1", "one", "active", 0L, 50L, false),          // base closed by update
      ("1", "one-b", "active", 50L, -1L, true),        // sentinel status <- base
      ("2", "two", "active", 0L, -1L, true),           // untouched base row
      ("3", "three", "new", 10L, 20L, false),
      ("3", "three", "hot", 20L, 30L, false),          // sentinel name inherited
      ("3", null, "back", 40L, -1L, true)))            // fence: name NOT inherited
    // is_current slice == Changelog.apply final state
    val current = Changelog.scd2(base, wireEvents(events), "t", "id", cols)
      .filter(col("is_current")).select("id", "name", "status")
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(2))).toSet
    assert(current == stateOf(events))
  }

  test("golden users fixture materializes to the expected final state") {
    val events = CdcDecode.toWireDf(
      CdcDecode.decode(
        CdcDecode.framesDataset(spark, UsersFixture.frames), "spec_users"))
    val out = Changelog.apply(
      UsersFixture.baseState(spark), events, "users", "id", UsersFixture.Cols.tail)
      .orderBy(col("id").cast("int"))
      .collect().map(_.toSeq).toSeq
    assert(out == Seq(
      Seq("1", "Ashish Kumar", "ashish@example.com", "active", UsersFixture.T0, UsersFixture.T0),
      Seq("2", "John Doe", "john@example.com", "active", UsersFixture.T0, UsersFixture.T0),
      Seq("4", "Bin User", "bin@example.com", "cafe", UsersFixture.T1, UsersFixture.T3)))
    CdcDecode.resetStream("spec_users")
  }
}
