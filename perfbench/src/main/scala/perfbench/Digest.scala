package perfbench

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Order-independent content digest of a DataFrame: its row count
  * plus the wrapping 64-bit sum of `xxhash64` over every column of
  * each row. Row order and partitioning do not change it; any changed
  * value, or a lost or duplicated row, does.
  *
  * Floating-point values are rounded to 9 decimal places before
  * hashing, so that a float sum taken in a different order (another
  * partitioning of the same rows) does not read as a different
  * answer. Columns are hashed in name order, so a reordered
  * projection of the same columns digests equal.
  */
final case class Digest(rows: Long, hash: Long) {
  def hex: String = f"$hash%016x"
}

object Digest {

  private def normalized(c: Column, t: DataType): Column = t match {
    case DoubleType | FloatType => round(c.cast(DoubleType), 9)
    case ArrayType(et @ (DoubleType | FloatType), _) =>
      transform(c, x => normalized(x, et))
    case _ => c
  }

  def of(df: DataFrame): Digest = {
    val fields = df.schema.fields.sortBy(_.name)
    val h = xxhash64(fields.map(f => normalized(col(s"`${f.name}`"), f.dataType)).toIndexedSeq: _*)
    // two 32-bit halves summed separately: a plain sum of longs
    // overflows, and ANSI mode fails on overflow
    val row = df.select(h.as("h"))
      .agg(count(lit(1)), sum(shiftrightunsigned(col("h"), 32)), sum(col("h").bitwiseAND(0xffffffffL)))
      .head()
    val rows = row.getLong(0)
    val hi = if (row.isNullAt(1)) 0L else row.getLong(1)
    val lo = if (row.isNullAt(2)) 0L else row.getLong(2)
    Digest(rows, (hi << 32) + lo)
  }

  /** Recorded digests: `workload -> op -> (rows, hex hash)`, one per line
    * as `workload op rows hash` (a format a diff reads at a glance). */
  def load(path: java.nio.file.Path): Map[(String, String), Digest] =
    if (!java.nio.file.Files.exists(path)) Map.empty
    else scala.io.Source.fromFile(path.toFile, "UTF-8").getLines()
      .map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#"))
      .map { l =>
        val Array(w, op, rows, hash) = l.split("\\s+")
        (w, op) -> Digest(rows.toLong, java.lang.Long.parseUnsignedLong(hash, 16))
      }.toMap

  def save(path: java.nio.file.Path, header: String, all: Map[(String, String), Digest]): Unit = {
    val lines = s"# $header" +: all.toSeq.sortBy(_._1).map { case ((w, op), d) =>
      s"$w $op ${d.rows} ${d.hex}"
    }
    java.nio.file.Files.write(path, (lines.mkString("\n") + "\n").getBytes("UTF-8"))
  }
}
