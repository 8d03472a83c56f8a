package graft.cdc

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The multi-join MERGE that [[Changelog.apply]] replaced, kept as a
  * test oracle: a `lastPerKey` aggregate, a join back to the events,
  * an explode to (key, column, value) cells, a per-(key, column)
  * `max_by`, a pivot, two left joins for the upserts and a
  * `left_anti` for the untouched base rows. Same contract and layout
  * as [[Changelog.apply]]; [[ChangelogPropSpec]] pins the two equal. */
object ChangelogOracle {

  def apply(
      base: DataFrame,
      events: DataFrame,
      table: String,
      keyCol: String,
      valueCols: Seq[String]): DataFrame = {
    val tableEvts = events.filter(col("table") === table)

    // TRUNCATE fence: a truncate at lsn T kills the base state and
    // every event before T for the whole table — only re-inserts
    // after the LAST truncate can contribute. The fence is a 1-row
    // aggregate broadcast onto both inputs (one scalar per table —
    // never a per-key shuffle; at 100 TB this is a map-side filter).
    val lastTrunc = broadcast(
      tableEvts.agg(
        max(when(col("operation") === "TRUNCATE", col("lsn"))).as("__tr_lsn")))
    val fencedBase = base.crossJoin(lastTrunc)
      .filter(col("__tr_lsn").isNull).drop("__tr_lsn")

    val evts = tableEvts
      .crossJoin(lastTrunc)
      .filter(col("operation") =!= "TRUNCATE" &&
        (col("__tr_lsn").isNull || col("lsn") > col("__tr_lsn")))
      .drop("__tr_lsn")
      .select(
        coalesce(col("new_values")(keyCol), col("old_values")(keyCol)).as("__key"),
        col("lsn"), col("operation"), col("new_values"))
      .filter(col("__key").isNotNull)

    // Last event per key decides existence; last DELETE per key fences
    // off dead history.
    val lastPerKey = evts
      .groupBy("__key")
      .agg(
        max_by(col("operation"), col("lsn")).as("__last_op"),
        max(when(col("operation") === "DELETE", col("lsn"))).as("__last_del"))

    // Live column assignments: post-image cells after the delete fence,
    // sentinel cells dropped (they mean "keep previous").
    val cells = evts
      .join(lastPerKey, "__key")
      .filter(col("operation") =!= "DELETE" &&
        (col("__last_del").isNull || col("lsn") > col("__last_del")))
      .select(col("__key"), col("lsn"), explode(col("new_values")).as(Seq("__col", "__val")))
      .filter(col("__col") =!= keyCol && col("__col").isin(valueCols: _*))
      .filter(col("__val").isNull || col("__val") =!= CdcEvent.UnchangedSentinel)
      .groupBy("__key", "__col")
      // struct wrapper: a column explicitly set to NULL must beat the
      // base value, so "latest cell" must be distinguishable from
      // "no cell" after the pivot.
      .agg(max_by(struct(col("__val")), col("lsn")).as("__cell"))

    val setCols = valueCols.map(c =>
      first(when(col("__col") === c, col("__cell")), ignoreNulls = true).as(s"__set_$c"))
    val pivoted = cells
      .groupBy("__key")
      .agg(setCols.head, setCols.tail: _*)

    // Keys whose last event is not DELETE are upserts; they take the
    // latest cell when one exists, else the base value (pre-existing
    // keys whose every event left the column "[unchanged]").
    val upsertKeys = lastPerKey.filter(col("__last_op") =!= "DELETE").select("__key")
    val baseByKey = fencedBase.select(col(keyCol).as("__key") +: valueCols.map(c => col(c).as(s"__base_$c")): _*)

    val upserts = upsertKeys
      .join(pivoted, Seq("__key"), "left")
      .join(baseByKey, Seq("__key"), "left")
      .select(col("__key").as(keyCol) +: valueCols.map { c =>
        when(col(s"__set_$c").isNotNull, col(s"__set_$c")("__val"))
          .otherwise(col(s"__base_$c")).as(c)
      }: _*)

    // Base rows not touched by any event survive unchanged; touched
    // keys are replaced by their upsert row (or dropped if deleted).
    val untouched = fencedBase
      .join(evts.select(col("__key").as(keyCol)).distinct(), Seq(keyCol), "left_anti")
      .select(col(keyCol) +: valueCols.map(col): _*)

    untouched.unionByName(upserts)
  }
}
