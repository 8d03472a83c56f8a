package graft.cdc

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Typed projection of wire images: `MAP<STRING,STRING>` →  typed
  * columns against a per-table schema.
  *
  * The reference captures PG type OIDs in its relation registry and
  * never consults them (pg_output_parser.py:79,86 — SURVEY §1.2); the
  * Spark engine closes that gap here: a table's target `StructType`
  * drives casts from the all-string wire values.
  *
  * Policies:
  *  - the `"[unchanged]"` TOAST sentinel is surfaced as NULL in typed
  *    views (a typed column can't carry the marker; the MERGE layer
  *    resolves sentinels BEFORE typing — [[Changelog]]);
  *  - `permissive = true` (default) uses try_cast semantics: a
  *    malformed value yields NULL instead of failing the task under
  *    ANSI mode (Spark's PERMISSIVE-mode analogue);
  *  - `permissive = false` casts strictly — bad values fail loudly.
  */
object TypedView {

  /** One typed column from a wire-image map. BinaryType decodes the
    * pgoutput text form of bytea — `\x`-prefixed hex (the server
    * default since PG 9.0); a non-hex value falls back to a plain
    * string→binary cast (UTF-8 bytes — the `bytea_output=escape`
    * escape hatch is not parsed). */
  def typedField(image: Column, name: String, dataType: org.apache.spark.sql.types.DataType,
      permissive: Boolean): Column = {
    val raw = nullif(image(name), lit(CdcEvent.UnchangedSentinel))
    val cast = dataType match {
      case org.apache.spark.sql.types.BinaryType =>
        when(raw.startsWith("\\x"), unhex(raw.substr(lit(3), length(raw))))
          .otherwise(raw.cast(dataType))
      case _ if permissive => try_cast(raw, dataType)
      case _ => raw.cast(dataType)
    }
    cast.as(name)
  }

  private def try_cast(c: Column, dt: org.apache.spark.sql.types.DataType): Column =
    // functions.try_* has no generic cast; `Column.try_cast` exists in
    // Spark 4 as a method taking a DataType-typed string via expr.
    c.try_cast(dt)

  /** Project a DataFrame's image column to typed columns, keeping
    * `keep` passthrough columns. */
  def project(
      events: DataFrame,
      imageCol: String,
      schema: StructType,
      keep: Seq[String] = Seq.empty,
      permissive: Boolean = true): DataFrame =
    events.select(
      keep.map(col) ++
        schema.fields.map(f => typedField(col(imageCol), f.name, f.dataType, permissive)): _*)
}
