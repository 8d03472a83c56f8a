package graft.cdc

import graft.SparkSpec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import PgOutput.{ColumnInfo, Encoder => E, RelationInfo, WText, WireValue}

/** Wire-derived typed projection (VERDICT r11 #3): R ('Relation') +
  * Y ('Type') frames alone determine the Spark schema — no
  * caller-supplied StructType — closing the reference's
  * unused-`type_id` flaw end-to-end (SURVEY §1.2). */
class TypedViewWireSpec extends SparkSpec {

  private val RelId = 54321
  private val rel = RelationInfo(
    RelId, "public", "orders_typed", 'd',
    IndexedSeq(
      ColumnInfo("id", typeId = 23, flags = 1, typeMod = -1),           // int4
      ColumnInfo("qty", typeId = 20, flags = 0, typeMod = -1),          // int8
      ColumnInfo("price", typeId = 1700, flags = 0, typeMod = (12 << 16 | 2) + 4), // numeric(12,2)
      ColumnInfo("ok", typeId = 16, flags = 0, typeMod = -1),           // bool
      ColumnInfo("note", typeId = 1043, flags = 0, typeMod = 259),      // varchar(255)
      ColumnInfo("ratio", typeId = 701, flags = 0, typeMod = -1),       // float8
      ColumnInfo("day", typeId = 1082, flags = 0, typeMod = -1),        // date
      ColumnInfo("at", typeId = 1114, flags = 0, typeMod = -1),         // timestamp
      ColumnInfo("at_tz", typeId = 1184, flags = 0, typeMod = -1),      // timestamptz
      ColumnInfo("blob", typeId = 17, flags = 0, typeMod = -1),         // bytea
      ColumnInfo("mood", typeId = 909090, flags = 0, typeMod = -1)))    // custom ('Y')

  test("R+Y frames alone derive the typed schema: builtin OIDs map, custom OIDs keep text + name metadata") {
    val d = new PgOutput.Decoder
    assert(d.decodeAll(E.typeMsg(909090, "public", "mood_enum"), 1L, 0L).isEmpty)
    assert(d.decodeAll(E.relation(rel), 2L, 0L).isEmpty)
    val schema = PgTypes.schemaFor(d.relationRegistry(RelId), d.typeRegistry)
    val types = schema.fields.map(f => f.name -> f.dataType).toMap
    assert(types("id") == IntegerType)
    assert(types("qty") == LongType)
    assert(types("price") == DecimalType(12, 2), "numeric typmod unpacks to (precision, scale)")
    assert(types("ok") == BooleanType)
    assert(types("note") == StringType)
    assert(types("ratio") == DoubleType)
    assert(types("day") == DateType)
    assert(types("at") == TimestampNTZType, "timestamp w/o zone maps to NTZ")
    assert(types("at_tz") == TimestampType)
    assert(types("blob") == BinaryType)
    assert(types("mood") == StringType, "custom type keeps lossless wire text")
    val mood = schema.fields.find(_.name == "mood").get
    assert(mood.metadata.getString("pgTypeName") == "public.mood_enum",
      "'Y'-announced name rides the field metadata")
    assert(schema.fields.forall(_.metadata.getLong("pgTypeOid") > 0))
  }

  test("numeric typmod −1 (unconstrained) and over-precision fall back to Decimal(38,18)") {
    assert(PgTypes.dataTypeFor(1700, -1).contains(DecimalType(38, 18)))
    assert(PgTypes.dataTypeFor(1700, (500 << 16 | 2) + 4).contains(DecimalType(38, 18)),
      "PG allows precision 1000; beyond Spark's 38 keeps the safe default")
  }

  test("the wire-derived schema (PgTypes.schemaFor) types the wire images end-to-end") {
    val d = new PgOutput.Decoder
    d.decodeAll(E.typeMsg(909090, "public", "mood_enum"), 1L, 0L)
    d.decodeAll(E.relation(rel), 2L, 0L)
    val row: Seq[WireValue] = Seq(
      WText("7"), WText("900000000000"), WText("19.99"), WText("t"),
      WText("hello"), WText("0.25"), WText("2026-03-01"),
      WText("2026-03-01 12:30:45"), WText("2026-03-01 12:30:45+00"),
      WText("\\xcafe"), WText("happy"))
    val evt = d.decodeAll(E.insert(RelId, row), 3L, 0L).head
    val events = CdcDecode.toWireDf(spark.createDataset(Seq(evt))(CdcDecode.cdcEventEncoder))
    val typed = TypedView.project(events, "new_values",
      PgTypes.schemaFor(d.relationRegistry(RelId), d.typeRegistry), keep = Seq("lsn"))
    val out = typed.collect().head
    assert(typed.schema("id").dataType == IntegerType && out.getAs[Int]("id") == 7)
    assert(out.getAs[Long]("qty") == 900000000000L)
    assert(out.getAs[java.math.BigDecimal]("price").compareTo(new java.math.BigDecimal("19.99")) == 0)
    assert(out.getAs[Boolean]("ok"))
    assert(out.getAs[Double]("ratio") == 0.25)
    assert(out.getAs[java.sql.Date]("day").toString == "2026-03-01")
    assert(out.getAs[java.time.LocalDateTime]("at").toString == "2026-03-01T12:30:45")
    assert(out.getAs[Array[Byte]]("blob").toSeq == Seq(0xca.toByte, 0xfe.toByte),
      "bytea hex wire form decodes to real bytes")
    assert(out.getAs[String]("mood") == "happy")
  }

  test("pg bool wire literals 't'/'f' survive the cast") {
    // PG sends bool as 't'/'f'; Spark's cast accepts t/f/true/false —
    // pinned here so a cast-behavior change fails loudly
    val df = spark.range(1).select(
      lit("t").cast(BooleanType).as("t"), lit("f").cast(BooleanType).as("f"))
    val r = df.collect().head
    assert(r.getBoolean(0) && !r.getBoolean(1))
  }
}
