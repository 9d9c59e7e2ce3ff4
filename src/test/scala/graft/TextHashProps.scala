package graft

import org.scalacheck.{Gen, Prop}
import org.scalacheck.Prop.forAll
import org.apache.spark.sql.functions._

import graft.operators.TextDedup

/** Property layer: the one-pass NgramHash32 expression must agree with
  * the staged Column pipeline (normalize -> split -> n-gram ->
  * distinct -> sha256/conv) on arbitrary ASCII text with arbitrary
  * whitespace runs — they are two implementations of the same spec and
  * the DuckDB oracle mirrors the second. */
object TextHashProps extends SparkProperties("TextHash") {
  private lazy val spark = TestSpark.spark

  private val wordGen = Gen.nonEmptyListOf(
    Gen.oneOf(Gen.alphaLowerChar, Gen.alphaUpperChar, Gen.numChar))
    .map(_.mkString)
  private val wsGen = Gen.nonEmptyListOf(
    Gen.oneOf(' ', '\t', '\n', '\r')).map(_.mkString)
  private val textGen: Gen[String] = for {
    n <- Gen.choose(0, 12)
    words <- Gen.listOfN(n, wordGen)
    seps <- Gen.listOfN(n + 1, wsGen)
    lead <- Gen.oneOf("", " ", "\t\t")
  } yield lead + words.zip(seps).map { case (w, s) => w + s }.mkString

  property("expression == column pipeline on random ASCII text") =
    forAll(Gen.listOfN(12, textGen)) { texts: List[String] =>
      import spark.implicits._
      val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("doc_id", "text")
      val viaExpr = df.select(col("doc_id"),
        graft.functions.TextHashColumns.ngramHashes(col("text"), 3).as("hs"))
        .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toSet).toMap
      val viaCols = df
        .select(col("doc_id"), TextDedup.words(col("text")).as("_w"))
        .select(col("doc_id"), TextDedup.wordShingles(col("_w"), 3).as("_sh"))
        .select(col("doc_id"),
          transform(col("_sh"), TextDedup.wordHash32(_)).as("hs"))
        .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toSet).toMap
      Prop(viaExpr == viaCols)
    }
}
