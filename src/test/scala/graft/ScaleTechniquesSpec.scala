package graft

import org.scalacheck.Gen
import org.scalacheck.Prop.forAll
import org.apache.spark.sql.functions._

import graft.operators.ScaleTechniques
import graft.util.Parity

/** Property layer for the skew-safe rewrite: the two-stage salted
  * aggregate must equal the direct groupBy bit-for-bit on arbitrary
  * keyed doubles — including heavy skew (many rows on one key), the
  * case the rewrite exists for. Decimal partials make the
  * re-association exact, so equality is ==, not approx. */
object ScaleTechniquesSpec extends SparkProperties("ScaleTechniques") {
  private lazy val spark = TestSpark.spark

  private val rowGen = for {
    key <- Gen.frequency(
      (8, Gen.const("HOT")), // skewed heavy hitter
      (2, Gen.oneOf("a", "b", "c", "d")))
    id <- Gen.choose(0L, 1000000L)
    v <- Gen.choose(-1e6, 1e6)
  } yield (key, id.toString, math.rint(v * 1e6) / 1e6)

  property("salted two-stage sum/count == direct groupBy") =
    forAll(Gen.listOfN(60, rowGen)) { rows: List[(String, String, Double)] =>
      import spark.implicits._
      val df = rows.toDF("k", "id", "v")
      val salted = ScaleTechniques
        .saltedSumCount(df, Seq("k"), "v", saltFrom = "id", nSalts = 7)
        .collect().map(r => (r.getString(0), r.getDouble(1), r.getLong(2)))
        .sortBy(_._1).toSeq
      val direct = df.groupBy(col("k"))
        .agg(Parity.dsum(col("v")).as("v_sum"), count(lit(1)).as("n_rows"))
        .collect().map(r => (r.getString(0), r.getDouble(1), r.getLong(2)))
        .sortBy(_._1).toSeq
      salted == direct
    }
}
