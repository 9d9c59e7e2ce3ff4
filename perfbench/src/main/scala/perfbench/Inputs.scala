package perfbench

import java.time.{Instant, LocalDate, ZoneOffset}
import java.time.format.DateTimeFormatter
import java.util.SplittableRandom

import graft.api.FetchParams

/** Everything a run feeds the library, drawn from `--seed` alone: the
  * fetch request list, the batch entry order and the ingest trade
  * batches with their late corrections. Pure functions of the seed, so
  * the same seed reproduces a run's inputs exactly. */
object Inputs {

  /** The trades corpus covers January 2024 (30 days) in UTC. */
  val Epoch0Us: Long = 1704067200L * 1000000L
  val DayUs: Long = 86400L * 1000000L
  val CorpusDays = 30

  private val tsFmt = DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss")
    .withZone(ZoneOffset.UTC)

  def formatTs(us: Long): String =
    tsFmt.format(Instant.ofEpochSecond(Math.floorDiv(us, 1000000L)))

  def dayOf(us: Long): LocalDate = LocalDate.ofEpochDay(Math.floorDiv(us, DayUs))

  // ---- fetch ----

  /** One `fetch_trades` call. The window is [startUs, endUs) in whole
    * seconds; `pruned` requests also carry the caller-side partition
    * predicate over the days the window touches. */
  final case class FetchRequest(
      underlying: String,
      startUs: Long,
      endUs: Long,
      optionType: Option[String],
      expiry: Option[LocalDate],
      strike: Option[Double],
      limit: Option[Int],
      pruned: Boolean) {

    def params: FetchParams = FetchParams(
      underlying = Some(underlying),
      start = Some(formatTs(startUs)),
      end = Some(formatTs(endUs)),
      optionType = optionType,
      expiry = expiry.map(_.toString),
      strike = strike,
      limit = limit)

    /** First and exclusive-last day the window touches. */
    def days: (LocalDate, LocalDate) = (dayOf(startUs), dayOf(endUs - 1).plusDays(1))
  }

  private val HourS = 3600.0
  private val MonthS = 30 * 86400.0

  /** Requests come in blocks of this many. */
  val FetchBlock = 12

  /** `blocks` blocks of requests. Each request draws an underlying, a
    * window log-uniform between 1 h and 30 days, and optional option
    * type, expiry and strike filters; about a third carry a limit and
    * half the partition predicate. The draws are stratified within a
    * block (one window from each twelfth of the log-range, exactly 4
    * limits, 6 predicates, 6 of each underlying, 4 option-type, 2
    * expiry and 2 strike filters, at random positions), so every block
    * has the same mix and runs of different seeds stay comparable. */
  def fetchRequests(seed: Long, blocks: Int): Vector[FetchRequest] = {
    val r = new SplittableRandom(seed ^ 0x66657463L)
    def positions(k: Int): Set[Int] = shuffled(r, (0 until FetchBlock).toVector).take(k).toSet
    (0 until blocks).toVector.flatMap { _ =>
      val stratum = shuffled(r, (0 until FetchBlock).toVector)
      val limited = positions(4)
      val pruned = positions(6)
      val btc = positions(6)
      val typed = positions(4)
      val expiring = positions(2)
      val struck = positions(2)
      (0 until FetchBlock).map { j =>
        val u = (stratum(j) + r.nextDouble()) / FetchBlock
        val windowS = math.exp(math.log(HourS) + u * (math.log(MonthS) - math.log(HourS))).toLong
        val spanS = CorpusDays * 86400L
        val startUs = Epoch0Us + (r.nextDouble() * (spanS - windowS)).toLong * 1000000L
        FetchRequest(
          underlying = if (btc(j)) "BTC" else "ETH",
          startUs = startUs,
          endUs = startUs + windowS * 1000000L,
          optionType = if (typed(j)) Some(if (r.nextBoolean()) "P" else "C") else None,
          // trade expiries are date(ts) + 7..66 days
          expiry = if (expiring(j)) Some(dayOf(startUs).plusDays(7L + r.nextInt(60))) else None,
          strike = if (struck(j)) Some(8000.0 + 250.0 * r.nextInt(17)) else None,
          limit = if (limited(j)) Some(math.exp(r.nextDouble() * math.log(1000.0)).toInt + 1)
            else None,
          pruned = pruned(j))
      }
    }
  }

  /** Fisher-Yates shuffle drawing from `r`. */
  def shuffled[T](r: SplittableRandom, xs: Vector[T]): Vector[T] = {
    val a = xs.toArray[Any]
    for (i <- a.indices.reverse) {
      val j = r.nextInt(i + 1)
      val t = a(i); a(i) = a(j); a(j) = t
    }
    a.toVector.asInstanceOf[Vector[T]]
  }

  // ---- batch ----

  /** The alpha-feature engine's entries: contract selection, OHLC
    * resampling, portfolio greeks, an EGARCH fit (driver-side
    * iterations), a windowed IV percentile, the spot join and the
    * end-to-end feature pipeline. */
  val AlphaSet: Vector[String] = Vector(
    "a1_front_month", "a2_resample_ohlc", "a14_portfolio_greeks", "m3_egarch_fit",
    "w2_iv_percentile", "j2_spot_enrich", "p0_pipeline_e2e")

  /** The corpus-curation entries: two iterative operators (k-means over
    * the embeddings, BPE merges) and the dedup family (exact, MinHash
    * over its side-table memo, SimHash pairs). */
  val CurationSet: Vector[String] = Vector(
    "llm_embed_clusters", "llm_bpe_train", "llm_dedup_exact", "llm_minhash_neardup",
    "llm_simhash_pairs")

  /** Entry order of the `pass`-th pass: both sets, seed-shuffled. */
  def entryOrder(seed: Long, pass: Int): Vector[String] = {
    shuffled(new SplittableRandom(seed ^ (0x62617463L + pass * 0x9e3779b97f4a7c15L)),
      AlphaSet ++ CurationSet)
  }

  // ---- ingest ----

  /** A trade in the shape of `SyntheticTrades.trades`, carried as the
    * event fields it is derived from. `price`/`amount` start at the
    * derivation's values and change only by a late correction. */
  final case class Trade(eventId: Long, tsUs: Long, userId: Long, value: Double,
      price: Double, amount: Double) {
    def tradeId: String = eventId.toString
    def underlying: String = if (userId % 2 == 0) "BTC" else "ETH"
    def optionType: String = if (eventId % 3 == 0) "P" else "C"
    def expiry: LocalDate = dayOf(tsUs).plusDays(7 + eventId % 60)
    def strike: Double = 8000.0 + 250.0 * (eventId % 17)
    def instrument: String =
      graft.functions.Instruments.format(underlying, expiry, strike, optionType)
    def direction: String = if (eventId % 5 < 2) "buy" else "sell"
    def iv: Option[Double] =
      if (eventId % 19 == 0) None else Some(0.2 + (eventId % 100).toDouble / 250.0)
    def indexPrice: Option[Double] =
      if (eventId % 23 == 0) None else Some(9500.0 + userId.toDouble * 7.0)
    def markPrice: Double = value / 100.0 * 1.01
  }

  /** A late correction: the stored row of `tradeId` gets a new price
    * and amount; `seq` orders corrections of the same id. */
  final case class Correction(tradeId: String, price: Double, amount: Double, seq: Long)

  /** One ingest cycle: the micro-batch landed, and the corrections
    * upserted after it (empty except after batches 5, 10, 15, ...;
    * batch 0 is the warm-up). */
  final case class Cycle(index: Int, trades: Vector[Trade],
      corrections: Vector[Correction], startUs: Long, endUs: Long)

  val BatchSize = 5000
  val BatchSpanUs: Long = 10L * 60 * 1000000L
  val RedeliveryShare = 0.10
  val CorrectionShare = 0.01
  val CorrectionEvery = 5

  /** The seeded stream of ingest cycles. Each batch covers the next
    * 10 minutes of event time; about 10% of its rows re-deliver trade
    * ids of the previous batch (the REST pager's page overlap, well
    * inside the 30-minute dedup watermark); after every 5th batch about
    * 1% of the distinct ids stored so far get a correction. */
  final class IngestPlan(seed: Long) extends Iterator[Cycle] {
    private val r = new SplittableRandom(seed ^ 0x696e6773L)
    private var index = 0
    private var nextEventId = 0L
    private var previous = Vector.empty[Trade]
    private val stored = scala.collection.mutable.ArrayBuffer.empty[Trade]
    private var correctionSeq = 0L

    def hasNext: Boolean = true

    def next(): Cycle = {
      val startUs = Epoch0Us + index * BatchSpanUs
      val nRedelivered = if (previous.isEmpty) 0 else (BatchSize * RedeliveryShare).toInt
      val fresh = Vector.fill(BatchSize - nRedelivered) {
        (startUs + (r.nextDouble() * BatchSpanUs).toLong, r.nextInt(1500).toLong,
          math.round(r.nextDouble() * 56000.0) / 100.0)
      }.sortBy(_._1).map { case (ts, user, value) =>
        val t = Trade(nextEventId, ts, user, value, value / 100.0, value)
        nextEventId += 1
        t
      }
      val redelivered = Vector.fill(nRedelivered)(previous(r.nextInt(previous.size)))
      val merged = fresh ++ redelivered
      // interleave re-deliveries with the fresh rows, as pages would
      val rows = shuffled(r, merged)
      stored ++= fresh
      previous = fresh
      val corrections =
        if (index == 0 || index % CorrectionEvery != 0) Vector.empty
        else {
          val k = math.max(1, (stored.size * CorrectionShare).toInt)
          val picked = scala.collection.mutable.LinkedHashSet.empty[Int]
          while (picked.size < k) picked += r.nextInt(stored.size)
          picked.toVector.map { i =>
            correctionSeq += 1
            val t = stored(i)
            Correction(t.tradeId, math.round(t.price * (95 + r.nextInt(11))) / 100.0,
              t.amount + 1.0 + r.nextInt(10), correctionSeq)
          }
        }
      val c = Cycle(index, rows, corrections, startUs, startUs + BatchSpanUs)
      index += 1
      c
    }
  }
}
