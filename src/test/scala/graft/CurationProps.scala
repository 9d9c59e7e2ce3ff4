package graft

import org.scalacheck.Gen
import org.scalacheck.Prop.forAll
import org.apache.spark.sql.functions._

import graft.operators.{TextAnalysis, TextPii, VectorOps}

/** Property layer for the round-8 curation operators.
  *
  * The load-bearing PII property is CLOSURE: after one scrub pass, no
  * pattern matches the redacted text — which is exactly idempotence
  * (redact ∘ redact = redact). It must hold for any interleaving of
  * PII tokens and filler, including the adversarial adjacencies a
  * unit test wouldn't enumerate (digit runs touching masked tokens,
  * emails chained with '@' leftovers, 5-octet IP runs). */
object CurationProps extends SparkProperties("Curation") {
  private lazy val spark = TestSpark.spark

  // filler: letters/digits but never '@' (emails are injected, not
  // accidental); digit runs may legitimately read as phones — the
  // scrub must mask those too, closure still holds
  private val fillerGen = Gen.nonEmptyListOf(
    Gen.oneOf(Gen.alphaLowerChar, Gen.numChar)).map(_.mkString)
  private val emailGen = for {
    l <- Gen.nonEmptyListOf(Gen.oneOf(Gen.alphaLowerChar, Gen.numChar,
      Gen.oneOf('.', '_', '+'))).map(_.mkString)
    d <- Gen.nonEmptyListOf(Gen.alphaLowerChar).map(_.mkString)
    t <- Gen.oneOf("com", "org", "io", "net")
  } yield s"$l@$d.$t"
  private val ipGen = for {
    a <- Gen.choose(0, 999); b <- Gen.choose(0, 999)
    c <- Gen.choose(0, 999); d <- Gen.choose(0, 999)
  } yield s"$a.$b.$c.$d"
  private val phoneGen = for {
    plus <- Gen.oneOf("", "+")
    cc <- Gen.choose(1, 99)
    mid <- Gen.listOfN(8, Gen.oneOf(Gen.numChar, Gen.const(' '),
      Gen.const('-'), Gen.const('('), Gen.const(')'))).map(_.mkString)
    last <- Gen.numChar
  } yield s"$plus$cc$mid$last"
  private val tokenGen: Gen[String] =
    Gen.frequency(4 -> fillerGen, 2 -> emailGen, 1 -> ipGen, 1 -> phoneGen)
  private val sepGen = Gen.oneOf(" ", ", ", "; ", " x ", "\n")
  private val textGen: Gen[String] = for {
    n <- Gen.choose(0, 10)
    toks <- Gen.listOfN(n, tokenGen)
    seps <- Gen.listOfN(n, sepGen)
  } yield toks.zip(seps).map { case (t, s) => t + s }.mkString

  property("pii scrub is closed: nothing matches the redacted text") =
    forAll(Gen.listOfN(16, textGen)) { texts: List[String] =>
      import spark.implicits._
      val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("doc_id", "text")
      val (e, i, p) = TextPii.countPii(col("redacted"))
      TextPii.scrub(df)
        .select(e.as("e2"), i.as("i2"), p.as("p2"))
        .filter(col("e2") > 0 || col("i2") > 0 || col("p2") > 0)
        .count() == 0L
    }

  property("pii scrub redacts every injected email") =
    forAll(Gen.listOfN(8, emailGen)) { emails: List[String] =>
      import spark.implicits._
      val df = emails.zipWithIndex
        .map { case (t, i) => (i.toLong, s"reach me at $t thanks") }
        .toDF("doc_id", "text")
      val out = TextPii.scrub(df).collect()
      out.forall(r => r.getAs[Int]("n_emails") >= 1 &&
        !r.getAs[String]("redacted").contains("@"))
    }

  property("corpus shuffle is a bijection onto shard positions") =
    forAll(Gen.nonEmptyListOf(Gen.choose(0L, 1000000L)),
      Gen.choose(1, 9), Gen.choose(0L, 99L)) {
      (rawIds: List[Long], nShards: Int, seed: Long) =>
        import spark.implicits._
        val ids = rawIds.distinct
        val out = TextAnalysis.corpusShuffle(
          ids.toDF("doc_id"), seed, nShards)
          .select("doc_id", "shard", "pos_in_shard")
          .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2)))
        val byShard = out.groupBy(_._2)
        out.length == ids.length &&
          out.map(_._1).toSet == ids.toSet &&
          byShard.keys.forall(s => s >= 0 && s < nShards) &&
          byShard.values.forall(g =>
            g.map(_._3).sorted.toSeq == (1 to g.length))
    }

  private val vecGen: Gen[Array[Float]] = for {
    n <- Gen.choose(1, 32)
    xs <- Gen.listOfN(n, Gen.choose(-100.0f, 100.0f))
  } yield xs.toArray

  property("int8 quantization: |q| <= 127, err <= scale/2, mse <= (scale/2)^2") =
    forAll(Gen.nonEmptyListOf(vecGen)) { vecs: List[Array[Float]] =>
      import spark.implicits._
      val df = vecs.zipWithIndex.map { case (v, i) => (i.toLong, v) }
        .toDF("vec_id", "embedding")
      VectorOps.int8Quantize(df).collect().forall { r =>
        val scale = r.getAs[Double]("scale")
        val half = scale / 2 + 1e-12
        math.abs(r.getAs[Int]("q_first")) <= 127 &&
          math.abs(r.getAs[Int]("q_last")) <= 127 &&
          r.getAs[Double]("max_err") <= half &&
          r.getAs[Double]("mse") <= half * half
      }
    }

  // small word alphabet so cross-doc n-gram collisions actually occur
  private val docGen: Gen[String] = for {
    n <- Gen.choose(0, 12)
    ws <- Gen.listOfN(n, Gen.oneOf("a", "b", "c", "d", "e"))
  } yield ws.mkString(" ")

  property("span scrub: kept text is a subsequence; counts reconcile") =
    forAll(Gen.nonEmptyListOf(docGen), Gen.choose(2, 4)) {
      (texts: List[String], n: Int) =>
        import spark.implicits._
        val docs = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
          .toDF("doc_id", "text")
        val out = TextAnalysis.spanScrub(docs, n, minDf = 2).collect()
        val orig = texts.zipWithIndex
          .map { case (t, i) => i.toLong -> t.trim.toLowerCase
            .replaceAll("\\s+", " ").split(" ", -1).toSeq }.toMap
        out.length == texts.length && out.forall { r =>
          val (id, nw, rm, cleaned) = (r.getLong(0), r.getInt(1),
            r.getInt(2), r.getString(3))
          val ow = orig(id)
          if (cleaned.isEmpty)
            // "" is ambiguous: all words scrubbed, or the degenerate
            // single-empty-word doc untouched (split("") = [""])
            nw == ow.length && (rm == nw || (ow == Seq("") && rm == 0))
          else {
            val keptWords = cleaned.split(" ", -1).toSeq
            // kept is a subsequence of the original word sequence
            var rem = ow
            val isSub = keptWords.forall { w =>
              val i = rem.indexOf(w)
              if (i < 0) false else { rem = rem.drop(i + 1); true }
            }
            nw == ow.length && rm >= 0 &&
              rm == nw - keptWords.length && isSub
          }
        }
    }

  property("span scrub: a doc with words unseen elsewhere is untouched") =
    forAll(Gen.choose(2, 4)) { n: Int =>
      import spark.implicits._
      val docs = Seq((1L, "z y x w v u t"), (2L, "a b c d e"),
        (3L, "a b c d e")).toDF("doc_id", "text")
      val r = TextAnalysis.spanScrub(docs, n, minDf = 2).collect()
        .map(x => x.getLong(0) -> x.getString(3)).toMap
      r(1L) == "z y x w v u t"
    }

  property("split assign: pure function of (seed, id); pct in [0,100)") =
    forAll(Gen.nonEmptyListOf(Gen.choose(0L, 1000000L)),
      Gen.choose(0L, 99L)) { (rawIds: List[Long], seed: Long) =>
      import spark.implicits._
      val ids = rawIds.distinct
      val df = ids.toDF("doc_id")
      val a = TextAnalysis.splitAssign(df, seed, 80, 10).collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getString(2))).toSet
      val b = TextAnalysis.splitAssign(df.repartition(5), seed, 80, 10)
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2)))
        .toSet
      a == b && a.forall { case (_, pct, split) =>
        pct >= 0 && pct < 100 &&
          split == (if (pct < 80) "train" else if (pct < 90) "val"
            else "test")
      }
    }
}
