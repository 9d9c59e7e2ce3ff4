package perfbench

import java.util.SplittableRandom

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

/** The input tables the library's entries read, generated with a fixed
  * seed into a run-scoped directory (one parquet file each, like the
  * library's own test data): `events` (the source of
  * `SyntheticTrades.trades` and the spot ticks), `documents` and
  * `embeddings`. At scale 1 the sizes match the sf0.1 test data: 100k
  * events over the 30 days of January 2024, 5k documents, 2k vectors.
  * The fixture never depends on `--seed`, so batch outputs have fixed
  * digests. */
object Fixture {

  val Seed = 42L
  val Tables: Seq[String] = Seq("events", "documents", "embeddings")

  private val vocab = Vector(
    "a", "agg", "batch", "big", "column", "customer", "data", "dup", "fast",
    "filter", "group", "hash", "join", "key", "line", "merge", "order",
    "part", "query", "row", "scan", "slow", "small", "sort", "spark",
    "stream", "table", "the", "value", "vector", "window")
  private val langs = Vector("en" -> 0.41, "fr" -> 0.15, "zh" -> 0.15,
    "de" -> 0.14, "es" -> 0.15)
  private val eventTypes = Vector("view", "click", "purchase", "signup", "error")

  final case class Sizes(events: Int, documents: Int, embeddings: Int)

  def sizes(scale: Double): Sizes = Sizes(
    math.round(100000 * scale).toInt, math.round(5000 * scale).toInt,
    math.round(2000 * scale).toInt)

  /** The fixture at `scale` under the fixtures directory, written there
    * first unless a complete one is there. A fixture is a pure function
    * of this code, so it is written once per build and only read
    * afterwards; it is written beside its place and renamed into it, so
    * a run never sees half a fixture. Returns its directory. */
  def ensure(spark: SparkSession, fixtures: String, scale: Double): String = {
    val target = new java.io.File(fixtures, s"scale-$scale")
    if (!new java.io.File(target, "_DONE").exists()) {
      target.getParentFile.mkdirs()
      val tmp = new java.io.File(target.getParentFile,
        s"${target.getName}.tmp-${java.util.UUID.randomUUID()}")
      val n = sizes(scale)
      writeTable(spark, s"$tmp/events.parquet", events(n.events), eventsSchema)
      writeTable(spark, s"$tmp/documents.parquet", documents(n.documents), documentsSchema)
      writeTable(spark, s"$tmp/embeddings.parquet", embeddings(n.embeddings), embeddingsSchema)
      new java.io.File(tmp, "_DONE").createNewFile()
      if (!tmp.renameTo(target) && !new java.io.File(target, "_DONE").exists())
        throw new java.io.IOException(s"could not move the fixture into $target")
    }
    target.getAbsolutePath
  }

  private def writeTable(spark: SparkSession, path: String, rows: Seq[Row],
      schema: StructType): Unit =
    spark.createDataFrame(rows.asJava, schema).coalesce(1).write.parquet(path)

  val eventsSchema: StructType = StructType(Seq(
    StructField("event_id", LongType), StructField("ts", TimestampType),
    StructField("user_id", LongType), StructField("event_type", StringType),
    StructField("value", DoubleType), StructField("props", StringType)))

  /** 30 days of events, sorted by time; users = events / 66.7. */
  def events(n: Int): Seq[Row] = {
    val r = new SplittableRandom(Seed)
    val users = math.max(1, n * 3 / 200)
    val ts = Array.fill(n)((r.nextDouble() * Inputs.CorpusDays * Inputs.DayUs).toLong).sorted
    (0 until n).map { i =>
      Row(i.toLong, Timestamps.fromMicros(Inputs.Epoch0Us + ts(i)), r.nextInt(users).toLong,
        eventTypes(r.nextInt(eventTypes.size)), math.round(r.nextDouble() * 56000.0) / 100.0,
        s"""{"k": ${r.nextInt(100)}}""")
    }
  }

  val documentsSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType),
    StructField("lang", StringType), StructField("source", StringType),
    StructField("n_chars", LongType)))

  /** 10..100 random words a document, 20 sources, a tail of exact
    * duplicates (8 per 5000 documents). */
  def documents(n: Int): Seq[Row] = {
    val r = new SplittableRandom(Seed + 1)
    val texts = Array.fill(n)(
      Seq.fill(10 + r.nextInt(91))(vocab(r.nextInt(vocab.size))).mkString(" "))
    val dups = math.round(n * 8.0 / 5000).toInt
    for (i <- 0 until dups) texts(n - dups + i) = texts(r.nextInt(n - dups))
    (0 until n).map { i =>
      val u = r.nextDouble()
      val lang = langs.scanLeft("" -> 0.0) { case ((_, c), (l, p)) => l -> (c + p) }
        .drop(1).find(_._2 > u).map(_._1).getOrElse(langs.last._1)
      Row(i.toLong, texts(i), lang, s"src${i % 20}", texts(i).length.toLong)
    }
  }

  val embeddingsSchema: StructType = StructType(Seq(
    StructField("vec_id", LongType),
    StructField("embedding", ArrayType(FloatType)),
    StructField("label", IntegerType)))

  /** 64-dimensional unit vectors, labels 0..9, with a 0.5% tail of
    * near-duplicates (perturbed copies, cosine > 0.99). */
  def embeddings(n: Int): Seq[Row] = {
    val g = new java.util.Random(Seed + 2)
    val vecs = Array.fill(n)(Array.fill(64)(g.nextGaussian()))
    val near = n / 200
    for (i <- 0 until near) {
      val src = vecs(g.nextInt(n - near))
      vecs(n - near + i) = src.map(_ + g.nextGaussian() * 0.02)
    }
    vecs.indices.map { i =>
      val v = vecs(i)
      val norm = math.sqrt(v.map(x => x * x).sum)
      Row(i.toLong, v.map(x => (x / norm).toFloat).toSeq, g.nextInt(10))
    }
  }
}

object Timestamps {
  def fromMicros(us: Long): java.sql.Timestamp = {
    val t = new java.sql.Timestamp(Math.floorDiv(us, 1000L))
    t.setNanos((Math.floorMod(us, 1000000L) * 1000L).toInt)
    t
  }

  def toMicros(t: java.sql.Timestamp): Long =
    Math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000
}
