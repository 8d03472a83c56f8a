package perfbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

class DigestSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = SparkSession.builder()
    .master("local[2]")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.shuffle.partitions", "3")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private def table = spark.range(0, 2000).select(
    col("id"),
    concat(lit("t"), (col("id") % 37).cast("string")).as("s"),
    (col("id") / 7.0).as("d"),
    array((col("id") * 0.1).cast("float"), lit(1.5f)).as("v"))

  test("row order and partitioning do not change the digest") {
    val base = Digest.of(table)
    assert(base.rows == 2000)
    assert(Digest.of(table.orderBy(col("id").desc)) == base)
    assert(Digest.of(table.repartition(7)) == base)
    assert(Digest.of(table.coalesce(1).orderBy(xxhash64(col("s"), col("id")))) == base)
  }

  test("a reordered projection of the same columns digests equal") {
    assert(Digest.of(table.select("v", "d", "s", "id")) == Digest.of(table))
  }

  test("a changed value, a lost row or a duplicated row changes the digest") {
    val base = Digest.of(table)
    assert(Digest.of(table.withColumn("s", when(col("id") === 5, lit("x")).otherwise(col("s")))) != base)
    assert(Digest.of(table.filter(col("id") =!= 5)) != base)
    assert(Digest.of(table.union(table.filter(col("id") === 5))) != base)
  }

  test("float noise below the rounding step does not change the digest") {
    val noisy = table.withColumn("d", col("d") + lit(1e-12))
    assert(Digest.of(noisy) == Digest.of(table))
  }

  test("recorded digests survive a save and load") {
    val f = java.nio.file.Files.createTempFile("digests", ".txt")
    val all = Map(("w", "op") -> Digest(3L, -42L), ("w", "op2") -> Digest(0L, 0L))
    Digest.save(f, "test", all)
    assert(Digest.load(f) == all)
  }
}
