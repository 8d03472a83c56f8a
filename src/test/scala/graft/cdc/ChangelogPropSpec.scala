package graft.cdc

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types.StructType
import org.scalacheck.{Gen, Prop, Test => SCTest}

import graft.SparkSpec

/** [[Changelog.apply]] (one keyed aggregate + one full-outer join)
  * equals [[ChangelogOracle]] (the multi-join MERGE it replaced) on
  * generated batches: INSERT/UPDATE/DELETE/TRUNCATE mixes over few
  * keys (so delete → re-insert and repeated updates are common), TOAST
  * sentinels, explicit NULLs and absent columns, keys carried only in
  * `old_values`, events for another table, empty batches and an empty
  * base. Row multisets are compared, so a duplicated or lost row
  * fails too. */
class ChangelogPropSpec extends SparkSpec {

  private val cols = Seq("name", "status")
  private val keys = Gen.oneOf("1", "2", "3", "4", "5")
  private val value = Gen.oneOf("a", "b", "c")

  private val baseGen: Gen[List[Row]] = Gen.oneOf(
    Gen.const(Nil),
    Gen.someOf("1", "2", "3", "4").flatMap(ks => Gen.sequence[List[Row], Row](ks.toList.map(k =>
      for (n <- Gen.option(value); s <- value) yield Row(k, n.orNull, s)))))

  /** One cell of a post-image: absent (None), explicit NULL
    * (Some(null)), the sentinel or a value. */
  private val cellGen: Gen[Option[String]] = Gen.frequency(
    1 -> Gen.const(None),
    1 -> Gen.const(Some(null)),
    2 -> Gen.const(Some(CdcEvent.UnchangedSentinel)),
    3 -> value.map(Some(_)))

  private def image(key: String, cells: Seq[Option[String]]): Map[String, String] =
    Map("id" -> key) ++ cols.zip(cells).collect { case (c, Some(v)) => c -> v }

  /** (operation, table, old_values, new_values) without its lsn. */
  private val eventGen: Gen[(String, String, Map[String, String], Map[String, String])] = for {
    op <- Gen.frequency(3 -> "INSERT", 4 -> "UPDATE", 3 -> "DELETE", 1 -> "TRUNCATE")
    table <- Gen.frequency(5 -> "t", 1 -> "other")
    key <- keys
    cells <- Gen.listOfN(cols.size, cellGen)
    keyInOldOnly <- Gen.frequency(4 -> false, 1 -> true)
  } yield op match {
    case "TRUNCATE" => (op, table, null, null)
    // DELETE keys live in the old image only ('K'/'O' tuple)
    case "DELETE" => (op, table, image(key, cells), null)
    case "UPDATE" if keyInOldOnly => (op, table, Map("id" -> key), image(key, cells) - "id")
    case _ => (op, table, null, image(key, cells))
  }

  /** Events with distinct lsns, listed in an order unrelated to lsn. */
  private val batchGen: Gen[List[Row]] = Gen.frequency(
    1 -> Gen.const(Nil),
    6 -> Gen.chooseNum(1, 14).flatMap { n =>
      for {
        evs <- Gen.listOfN(n, eventGen)
        lsns <- Gen.pick(n, 1L to 60L)
      } yield evs.zip(lsns).map { case ((op, t, o, nv), lsn) => Row(op, t, lsn, o, nv) }
    })

  private val eventSchema = StructType.fromDDL(
    "operation STRING, table STRING, lsn BIGINT, old_values MAP<STRING, STRING>, new_values MAP<STRING, STRING>")
  private val baseSchema = StructType.fromDDL("id STRING, name STRING, status STRING")

  private def rows(df: DataFrame): Seq[Seq[String]] =
    df.collect().map(r => Seq.tabulate(r.length)(i => r.getString(i))).toSeq
      .sortBy(_.map(Option(_).getOrElse("\u0000")).mkString("\u0001"))

  test("apply equals the multi-join oracle on generated batches") {
    val prop = Prop.forAll(baseGen, batchGen) { (baseRows, events) =>
      val base = spark.createDataFrame(baseRows.asJava, baseSchema)
      val evts = spark.createDataFrame(events.asJava, eventSchema)
      val got = rows(Changelog.apply(base, evts, "t", "id", cols))
      val want = rows(ChangelogOracle.apply(base, evts, "t", "id", cols))
      Prop(got == want) :| s"base=$baseRows events=$events got=$got want=$want"
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(40), prop)
    assert(res.passed, res.status.toString)
  }
}
