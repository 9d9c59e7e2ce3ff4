package graft

import org.scalacheck.{Gen, Prop}
import org.scalacheck.Prop.forAll
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.operators.TextDedup

/** Property layer: the one-pass NgramHash32 expression must agree with
  * the staged Column pipeline (normalize -> split -> n-gram ->
  * distinct -> sha256/conv) on arbitrary ASCII text with arbitrary
  * whitespace runs — they are two implementations of the same spec and
  * the DuckDB oracle mirrors the second. Likewise SimHash60 against
  * the explode + 60-column aggregate SQL spelling of SimHash. */
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

  /** The SQL spelling of SimHash per doc over an exploded (doc_id,
    * word-hash) frame: per bit, a +1/-1 vote summed over the doc's
    * word hashes, the bit set where the sum is positive. */
  def simhashAgg(exploded: DataFrame, idCol: String = "doc_id",
      hashCol: String = "h", bits: Int = TextDedup.SimhashBits): DataFrame = {
    val bitSums = (0 until bits).map { b =>
      sum(when(shiftright(col(hashCol), b).bitwiseAND(lit(1L)) === 1L,
        lit(1)).otherwise(lit(-1))).as(s"_bs$b")
    }
    val agg = exploded.groupBy(col(idCol)).agg(bitSums.head, bitSums.tail: _*)
    val simhash = (0 until bits)
      .map(b => when(col(s"_bs$b") > 0, lit(1L << b)).otherwise(lit(0L)))
      .reduce(_ + _)
    agg.select(col(idCol), simhash.as("simhash"))
  }

  // a small vocabulary, so words repeat and bit votes tie at zero;
  // non-ASCII words hash their UTF-8 bytes
  private val simWord = Gen.oneOf("a", "b", "ab", "Ab", "\u00e9t\u00e9",
    "\u4e2d\u6587", new String(Character.toChars(0x1f600)), "x1")
  private val simText: Gen[Option[String]] = Gen.frequency(
    1 -> Gen.const(None),
    1 -> Gen.oneOf("", " ", "\t \n").map(Some(_)),
    8 -> (for {
      n <- Gen.choose(1, 8)
      ws <- Gen.listOfN(n, simWord)
      sep <- Gen.oneOf(" ", "  ", "\t")
    } yield Some(ws.mkString(sep))))

  property("SimHash60 == explode + 60-column aggregate, both eval paths") =
    forAll(Gen.listOfN(10, simText)) { texts: List[Option[String]] =>
      import spark.implicits._
      val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t.orNull) }
        .toDF("doc_id", "text")
      // the words as the registry splits them, and without empty
      // words, whose whitespace-only docs become empty arrays
      val spellings: Seq[Column] = Seq(TextDedup.words(col("text")),
        filter(TextDedup.words(col("text")), w => length(w) > 0))
      def asMap(d: DataFrame) =
        d.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      spellings.forall { w =>
        val reference = asMap(simhashAgg(
          df.select(col("doc_id"), explode(w).as("word"))
            .select(col("doc_id"), TextDedup.wordHash60(col("word")).as("h"))))
        def kernel(in: DataFrame) = asMap(in
          .select(col("doc_id"),
            graft.functions.TextHashColumns.simhash60(w).as("simhash"))
          .filter(col("simhash").isNotNull))
        // a local relation folds the projection (interpreted eval); a
        // shuffled input runs it in generated code
        kernel(df) == reference && kernel(df.repartition(2)) == reference
      }
    }
}
