package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.ArrayType

/** The LSH band join behind every near-duplicate operator (MinHash,
  * SimHash, perceptual hash, sign-projection LSH): each row's band keys
  * are exploded, rows sharing a key in the same band are equi-joined,
  * and each candidate pair is verified on a payload. Candidate
  * generation is one partitioned index probed by key, never all-pairs.
  *
  * First band wins: both sides carry their whole band-key array, and a
  * pair is emitted only from the lowest band the two sides share — one
  * comparison in the join condition. Every pair sharing at least one
  * band therefore appears exactly once, with no `distinct` over the
  * candidate pairs (at scale the largest shuffle of LSH dedup).
  *
  * No barrier, for every caller: without one each near-dup entry ran
  * 1–5 fewer jobs and no slower (sf0.01 and sf0.1). The self-join's two
  * sides are one plan, so a shuffled join reads them through one reused
  * exchange (a broadcast join computes the build side once more), and
  * the two payload fetches share one exchange the same way. */
object BandJoin {

  /** The verify step: `score` over the two sides' `payload` values,
    * emitted as column `as`, pairs kept where `keep` holds on it. A
    * scalar payload (a hash) rides through the band join; an array
    * payload (a shingle-hash set, an embedding) is fetched by id after
    * it, so band rows never carry it once per band. */
  final case class Verify(payload: String, as: String,
      score: (Column, Column) => Column, keep: Column => Column)

  /** Pairs (on..., id_a, id_b[, verify.as]) of rows of `left` and
    * `right` (or `left` with itself, id_a < id_b) that agree on the
    * `on` columns and on at least one band of `keys`. Each key is built
    * from `left`/`right` columns inside the generator, so Catalyst
    * infers no `size > 0` filter to push below it; an expensive
    * signature must already be a column of the input. */
  def pairs(left: DataFrame, right: Option[DataFrame], id: String,
      keys: Seq[Column], on: Seq[String] = Nil,
      verify: Option[Verify] = None): DataFrame = {
    val carried = verify.map(_.payload).filterNot(p =>
      left.schema(p).dataType.isInstanceOf[ArrayType])
    val ks = array(keys: _*)
    def side(df: DataFrame, t: String) = df.select(on.map(col) ++
      Seq(col(id).as("_id"), ks.as("_ks"), posexplode(ks).as(Seq("_b", "_k"))) ++
      carried.map(p => col(p).as("_p")): _*).as(t)
    val other = right.getOrElse(left)
    val lowestShared = coalesce(keys.indices.map(i =>
      when(col("a._ks")(i) === col("b._ks")(i), lit(i))): _*)
    val cond = (on :+ "_b" :+ "_k").map(c => col(s"a.$c") === col(s"b.$c"))
      .reduce(_ && _) && col("a._b") === lowestShared &&
      (if (right.isEmpty) col("a._id") < col("b._id") else lit(true))
    val payloads =
      if (carried.isDefined) Seq(col("a._p").as("_pa"), col("b._p").as("_pb"))
      else Nil
    val cand = side(left, "a").join(side(other, "b"), cond)
      .select(on.map(c => col(s"a.$c")) ++ Seq(col("a._id").as("id_a"),
        col("b._id").as("id_b")) ++ payloads: _*)
    verify.fold(cand) { v =>
      def fetch(df: DataFrame, t: String) =
        df.select(col(id).as(s"id_$t"), col(v.payload).as(s"_p$t"))
      val paid = if (carried.isDefined) cand
        else cand.join(fetch(left, "a"), "id_a").join(fetch(other, "b"), "id_b")
      paid.select(on.map(col) ++ Seq(col("id_a"), col("id_b"),
          v.score(col("_pa"), col("_pb")).as(v.as)): _*)
        .filter(v.keep(col(v.as)))
    }
  }
}
