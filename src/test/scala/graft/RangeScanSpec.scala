package graft

import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.DecimalType
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.{CacheScope, RangeScan}

/** `RangeScan` contract pins that its callers' specs do not cover: sums keep
  * their Spark type, and no other main file builds its snapshot by hand.
  * Its operators are checked against naive models in `RandomPropertySpec`. */
class RangeScanSpec extends AnyFunSuite {
  private lazy val spark = Golden.spark
  import spark.implicits._

  test("cells keep the measure's Spark sum type: decimal sums are read as decimals, not longs") {
    val df = Seq((1L, "1.5"), (2L, "2.25"), (3L, "0.000001")).toDF("k", "w")
      .select(col("k"), col("w").cast("decimal(38,6)").as("w"))
    CacheScope.withScope { scope =>
      val scan = RangeScan(df, "_p", scope, None, Seq(col("k")))
      val e = intercept[IllegalArgumentException](scan.cells[Long](col("w")))
      assert(e.getMessage.contains("DecimalType(38,6)"))
      implicit val sums: RangeScan.Sum[java.math.BigDecimal] =
        RangeScan.Sum.decimals(DecimalType(38, 6))
      val cells = scan.cells[java.math.BigDecimal](col("w"))
      assert(RangeScan.totals(cells).apply(None).compareTo(new java.math.BigDecimal("3.750001")) == 0)
      val cum = scan.withOffsets(cells, "_off")
        .select(col("k"), (scan.running(col("w"), inclusive = true) + col("_off")).as("cum"))
      assert(cum.schema("cum").dataType == DecimalType(38, 6))
      assert(cum.as[(Long, java.math.BigDecimal)].collect().sortBy(_._1).map(_._2.toPlainString).toSeq
        == Seq("1.500000", "3.750000", "3.750001"))
    }
  }

  test("RangeScan.scala is the only main file that builds a range-partitioned scan snapshot") {
    def snapshot(code: String): Boolean =
      code.contains("repartitionByRange") && code.contains("monotonically_increasing_id")
    assert(SourceScan.filesWhere("src/main")(snapshot) == Seq("scala/graft/ops/RangeScan.scala"))
    // the pair is the idiom; either alone is not, nor a mention in a
    // comment or a string
    def hits(src: String) = snapshot(SourceScan.codeOnly(src))
    assert(hits("df.repartitionByRange(k).withColumn(\"p\", shiftright(monotonically_increasing_id(), 33))"))
    assert(!hits("df.repartitionByRange(100, col(\"_z\"))"))
    assert(!hits("df.withColumn(\"_row\", monotonically_increasing_id())"))
    assert(!hits("// repartitionByRange, then monotonically_increasing_id\n" +
      "val s = \"monotonically_increasing_id\"; df.repartitionByRange(k)"))
  }
}
