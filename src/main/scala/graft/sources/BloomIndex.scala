package graft.sources

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.Files
import java.util.Base64

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.functions._

/** Per-file Bloom-filter sidecar over a point-lookup key — the file-
  * skipping index for needle queries the min/max stats sidecar
  * (s21) cannot serve: a `trade_id` is uniformly distributed, so
  * every file's [min, max] straddles every probe and zone maps prune
  * NOTHING; a Bloom per file prunes almost everything (Iceberg/Delta
  * ship exactly this as parquet bloom columns / data-skipping
  * indexes).
  *
  * Scale shape: the index is file-count-sized metadata, read on the
  * DRIVER before planning, like the manifest itself. Each file's
  * filter is sized from its distinct-key count ([[bitsFor]]: a power
  * of two, at least 16 bits per key, never below [[MBits]]), and the
  * sidecar line's bitset length records that size. The build is two
  * distributed passes over the snapshot: per-file distinct counts,
  * then per (file, key) the K probe positions collapsed per file with
  * `collect_set` — state bounded by the filter size, not the row
  * count. The probe ([[SnapshotRead]]'s pruner) evaluates the SAME
  * Catalyst hash expression on the driver ([[positions]] — zero jobs,
  * bit-identical with the build, parity test-pinned) and keeps the
  * files whose bitset covers all K positions.
  *
  * Guarantees: no false negatives EVER (a key's file always survives
  * — Round15dSpec pins it); a false positive costs one extra file
  * scan, ~7e-4 at 16 bits per key and K = 7. */
object BloomIndex {

  /** The smallest filter, in bits. */
  val MBits = 1 << 14
  val K = 7

  /** Filter size for a file holding `distinctKeys` keys. */
  private[sources] def bitsFor(distinctKeys: Long): Int = {
    val want = math.max(MBits.toLong, 16 * distinctKeys)
    require(want <= (1 << 30), s"bloom filter for $distinctKeys keys is too large")
    Integer.highestOneBit((want - 1).toInt) << 1
  }

  private def bloomFile(root: String, v: Int, keyCol: String) =
    new File(new File(root, "_manifests"), s"v$v.bloom.$keyCol")

  /** The K probe positions of `key` in an `m`-bit filter via double
    * hashing — Spark expressions so build and lookup share one hash
    * codepath. */
  private def posCols(key: Column, m: Column): Seq[Column] = {
    // reduce both hashes below m BEFORE combining — ANSI mode (Spark 4
    // default) throws on the wrapped h1 + i*h2 long add
    val h1 = pmod(xxhash64(key), m)
    val h2 = pmod(xxhash64(key, lit(0x9E3779B9L)), m - 1) +
      lit(1L) // never a zero step
    (0 until K).map(i => pmod(h1 + lit(i.toLong) * h2, m).cast("int"))
  }

  /** [[posCols]] for ONE key in an `m`-bit filter, evaluated on the
    * driver through the SAME Catalyst expression the build pass runs
    * (`XxHash64.eval` over literals) — bit-identical hashing with ZERO
    * Spark jobs, so a probe inside query PLANNING (the catalog's
    * `pushFilters`) costs arithmetic, not a scheduled job per key.
    * Round17Spec pins driver positions == expression-codepath
    * positions. */
  private[graft] def positions(key: Long, m: Long = MBits): Seq[Int] = {
    import org.apache.spark.sql.catalyst.expressions.{Literal, XxHash64}
    def pmodL(a: Long, n: Long): Long = { val r = a % n; if (r < 0) r + n else r }
    val h1 = pmodL(
      XxHash64(Seq(Literal(key)), 42L).eval().asInstanceOf[Long], m)
    val h2 = pmodL(
      XxHash64(Seq(Literal(key), Literal(0x9E3779B9L)), 42L)
        .eval().asInstanceOf[Long], m - 1L) + 1L
    (0 until K).map(i => pmodL(h1 + i.toLong * h2, m).toInt)
  }

  /** Does `bits` cover every probe position of `key`? The filter size
    * is the bitset's length. */
  private[sources] def covers(bits: Array[Byte], key: Long): Boolean =
    positions(key, bits.length * 8L)
      .forall(pos => (bits(pos >> 3) & (1 << (pos & 7))) != 0)

  /** The whole sidecar for (`v`, `keyCol`), read ONCE: path → bitset.
    * None when no sidecar exists (probes then keep every file). */
  private[sources] def loadSidecar(root: String, v: Int, keyCol: String)
      : Option[Map[String, Array[Byte]]] = {
    val f = bloomFile(root, v, keyCol)
    if (!f.isFile) None
    else Some(new String(Files.readAllBytes(f.toPath),
      StandardCharsets.UTF_8).split("\n").filter(_.nonEmpty).map { l =>
        val Array(p, b) = l.split("\t")
        p -> Base64.getDecoder.decode(b)
      }.toMap)
  }

  /** Build the sidecar for the CURRENT version's manifest. Two
    * distributed passes; driver state is the files' filter bytes.
    *
    * Hash-parity contract: probes ([[positions]]) hash a LONG literal
    * through `XxHash64`, so the build MUST hash the key column through
    * the same long codepath — `xxhash64` over an INT column takes the
    * int-hash path and yields DIFFERENT positions than the probe
    * (false negatives: files wrongly skipped, rows silently dropped).
    * Integral sub-long columns are therefore widened to LONG before
    * hashing (value-preserving); LONG hashes as-is; TIMESTAMP hashes
    * its epoch-micros long internally, matching the micros the probe
    * literal carries. Any other type refuses loudly — a sidecar that
    * can never be probed correctly must not exist. */
  def build(spark: SparkSession, root: String, keyCol: String): Int = {
    import org.apache.spark.sql.types._
    val v = SnapshotStore.latestVersion(root)
    val base = SnapshotStore.snapshotAt(root, v).scan(spark)
    val key = base.schema(keyCol).dataType match {
      case LongType | TimestampType => col(keyCol)
      case IntegerType | ShortType | ByteType => col(keyCol).cast("long")
      case other => throw new graft.QueryError(
        s"bloom key column $keyCol has unsupported type $other " +
          "(supported: integral, timestamp — probes hash long values)")
    }
    val keyed = base.select(input_file_name().as("f"), key.as("k"))
    val bits: Map[String, Int] = keyed.groupBy(col("f"))
      .agg(count_distinct(col("k")))
      .collect().map(r => r.getString(0) -> bitsFor(r.getLong(1))).toMap
    val m = element_at(typedLit(bits.map { case (f, b) => f -> b.toLong }),
      col("f"))
    val perFile = keyed
      .select(col("f"), explode(array(posCols(col("k"), m): _*)).as("pos"))
      .groupBy(col("f"))
      .agg(collect_set(col("pos")).as("ps"))
      .collect()
    val lines = perFile.map { r =>
      val path = new java.net.URI(r.getString(0)).getPath
      val set = new Array[Byte](bits(r.getString(0)) / 8)
      r.getSeq[Int](1).foreach(p => set(p >> 3) = (set(p >> 3) |
        (1 << (p & 7))).toByte)
      s"$path\t${Base64.getEncoder.encodeToString(set)}"
    }
    Files.write(bloomFile(root, v, keyCol).toPath,
      lines.sorted.mkString("\n").getBytes(StandardCharsets.UTF_8))
    v
  }
}
