package graft.cdc

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Changelog → current-state materialization (the reference's only
  * real "query": `SELECT * FROM users` after a change sequence —
  * utils.py:87-97 — which it never automates; we make it a
  * distributed MERGE).
  *
  * Semantics per key (key = `keyCol` value in the event's post-image,
  * falling back to the pre-image for DELETEs):
  *
  *  - events apply in `lsn` order (commit order — the X2 ordering fix:
  *    ordering is by explicit stream position, not thread timing);
  *  - a key whose LAST event is DELETE disappears;
  *  - otherwise the key's row is: for each column, the value of the
  *    most recent event that set it to something other than the
  *    `"[unchanged]"` TOAST sentinel, falling back to the base-state
  *    value (sentinel = "keep previous" — SURVEY §7.3; the reference
  *    only ever prints the sentinel);
  *  - events before a key's last DELETE are dead history and never
  *    leak into a re-inserted row.
  *
  * Scale shape: one keyed aggregate over the batch's events and one
  * full-outer join of its output against the (truncate-fenced) base,
  * so the per-batch work is one shuffle of the events plus the join —
  * no explode to cells, no pivot, no windows over whole tables, no
  * driver-side state. Skewed hot keys are bounded by events-per-key
  * and AQE skew splitting.
  */
object Changelog {

  /** Apply a batch of wire-envelope events (layout of
    * [[CdcDecode.toWireDf]]) to `base`, returning the new state.
    * `base` and the result share the layout: `keyCol` plus
    * `valueCols`, all strings (typed views cast downstream).
    */
  def apply(
      base: DataFrame,
      events: DataFrame,
      table: String,
      keyCol: String,
      valueCols: Seq[String]): DataFrame = {
    val tableEvts = events.filter(col("table") === table)

    // TRUNCATE fence: a truncate at lsn T kills the base state and
    // every event before T for the whole table — only re-inserts
    // after the LAST truncate can contribute. The fence is one scalar
    // per table (never a per-key shuffle; at 100 TB this is a map-side
    // filter), computed by a scalar subquery: every use of it is the
    // same subquery, so it runs once per query and both inputs filter
    // against its value. (A broadcast 1-row aggregate joined onto each
    // input ran twice when `events` was cached, as it is in a
    // micro-batch: adaptive execution reused neither the broadcast nor
    // its scan of the cache.)
    val lastTrunc = tableEvts
      .agg(max(when(col("operation") === "TRUNCATE", col("lsn"))))
      .scalar()
    val fencedBase = base.filter(lastTrunc.isNull)

    val evts = tableEvts
      .filter(col("operation") =!= "TRUNCATE" && (lastTrunc.isNull || col("lsn") > lastTrunc))
      .select(
        coalesce(col("new_values")(keyCol), col("old_values")(keyCol)).as("__key"),
        col("lsn"), col("operation"), col("new_values"))
      .filter(col("__key").isNotNull)

    // One aggregate per key: the last event decides existence, the
    // last DELETE fences off dead history, and per column the latest
    // live cell — a post-image value other than the sentinel (which
    // means "keep previous"). The struct keeps a column explicitly
    // set to NULL distinguishable from "no cell", and carries the
    // cell's lsn for the fence check below.
    val isDelete = col("operation") === "DELETE"
    val lastCells = valueCols.map { c =>
      val v = col("new_values")(c)
      val live = !isDelete && map_contains_key(col("new_values"), c) &&
        (v.isNull || v =!= CdcEvent.UnchangedSentinel)
      max_by(struct(col("lsn"), v.as("v")), when(live, col("lsn"))).as(s"__cell_$c")
    }
    val byKey = evts
      .groupBy("__key")
      .agg(max_by(col("operation"), col("lsn")).as("__last_op"),
        max(when(isDelete, col("lsn"))).as("__last_del") +: lastCells: _*)

    // Base rows no event touched survive (no `__key`); a touched key
    // survives unless its last event is DELETE, taking each column's
    // latest cell after its last DELETE, else the base value (a
    // pre-existing key whose every later event left the column
    // "[unchanged]").
    fencedBase
      .join(byKey, col(keyCol) === col("__key"), "full_outer")
      .filter(col("__key").isNull || col("__last_op") =!= "DELETE")
      .select(coalesce(col("__key"), col(keyCol)).as(keyCol) +: valueCols.map { c =>
        val cell = col(s"__cell_$c")
        val live = cell("lsn") > coalesce(col("__last_del"), lit(Long.MinValue))
        when(live, cell("v")).otherwise(col(c)).as(c)
      }: _*)
  }

  /** Changelog → SCD type-2 history: one row per VERSION of each key,
    * with an LSN validity interval — the standard warehouse product a
    * CDC consumer feeds ("what did this row look like when?"), which
    * the reference (console print only) cannot answer.
    *
    * Versioning semantics (consistent with [[apply]]'s current-state
    * semantics — the `is_current` slice of the output equals
    * [[apply]]'s result):
    *
    *  - base rows open at `valid_from_lsn = 0`; a key's first event
    *    closes its base version at that event's lsn;
    *  - every INSERT/UPDATE opens a version at its lsn, closed by the
    *    key's next event of any kind (`valid_to_lsn` NULL = current);
    *  - a DELETE closes the running version and opens none — deleted
    *    keys have no current row;
    *  - the TOAST sentinel inherits the column's latest explicit
    *    value WITHIN the key's delete-fenced segment (running
    *    `last(_, ignoreNulls)` window), falling back to the base
    *    image only before the first DELETE — dead history never
    *    leaks into a re-inserted row, exactly like [[apply]];
    *  - a column explicitly set to NULL stays NULL (struct-wrapped
    *    cells distinguish "set to NULL" from "not set");
    *  - TRUNCATE events are keyless and fall out of the per-key
    *    versioning (documented limitation: the history view shows
    *    rows as open across a truncate; the CURRENT-state answer is
    *    [[apply]]'s, which fences truncates correctly — take the
    *    `is_current` slice from there when truncates are in play).
    *
    * Scale shape: windows partition by key (and delete-segment), so
    * state per task is one key's event history — bounded by
    * events-per-key like every CDC path here, shuffled once on the
    * key, no driver state.
    *
    * Output: `keyCol`, `valueCols`, `valid_from_lsn`, `valid_to_lsn`,
    * `is_current`. */
  def scd2(
      base: DataFrame,
      events: DataFrame,
      table: String,
      keyCol: String,
      valueCols: Seq[String]): DataFrame = {
    val evts = events
      .filter(col("table") === table)
      .select(
        coalesce(col("new_values")(keyCol), col("old_values")(keyCol)).as("__key"),
        col("lsn"), col("operation"), col("new_values"))
      .filter(col("__key").isNotNull)

    val wKey = Window.partitionBy("__key").orderBy("lsn")
    // delete-fenced segment id: number of DELETEs strictly before
    val isDel = when(col("operation") === "DELETE", 1).otherwise(0)
    val withSeg = evts
      .withColumn("__seg", sum(isDel).over(wKey) - isDel)
      .withColumn("__valid_to", lead(col("lsn"), 1).over(wKey))
    val wSeg = Window.partitionBy("__key", "__seg").orderBy("lsn")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)

    val baseByKey = base.select(
      col(keyCol).as("__key") +: valueCols.map(c => col(c).as(s"__base_$c")): _*)

    // running effective image: last explicitly-set (non-sentinel)
    // cell per column within the segment; base fallback in segment 0
    val resolved = withSeg
      .join(baseByKey, Seq("__key"), "left")
      .select(
        Seq(col("__key"), col("lsn"), col("operation"), col("__seg"), col("__valid_to")) ++
          valueCols.map { c =>
            val v = col("new_values")(c)
            val cell = when(
              map_contains_key(col("new_values"), c) &&
                (v.isNull || v =!= CdcEvent.UnchangedSentinel),
              struct(v.as("__val")))
            val run = last(cell, ignoreNulls = true).over(wSeg)
            when(run.isNotNull, run("__val"))
              .otherwise(when(col("__seg") === 0, col(s"__base_$c"))).as(c)
          }: _*)

    val eventVersions = resolved
      .filter(col("operation") =!= "DELETE")
      .select(
        col("__key").as(keyCol) +: valueCols.map(col) :+
          col("lsn").as("valid_from_lsn") :+
          col("__valid_to").as("valid_to_lsn") :+
          col("__valid_to").isNull.as("is_current"): _*)

    // base versions: open at 0, closed by the key's first event
    val firstEvt = evts.groupBy("__key").agg(min(col("lsn")).as("__first_lsn"))
    val baseVersions = base
      .join(firstEvt.withColumnRenamed("__key", keyCol), Seq(keyCol), "left")
      .select(
        col(keyCol) +: valueCols.map(col) :+
          lit(0L).as("valid_from_lsn") :+
          col("__first_lsn").as("valid_to_lsn") :+
          col("__first_lsn").isNull.as("is_current"): _*)

    baseVersions.unionByName(eventVersions)
  }
}
