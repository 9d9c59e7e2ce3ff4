package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong, AtomicReference}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.Row

import graft.api.TradesApi
import graft.options.SyntheticTrades
import graft.sources.TradesStore

/** Analysts calling `fetch_trades`: a closed loop of [[Clients]]
  * threads, each sending the next seeded request to `TradesApi.fetch`
  * over `TradesStore.read` of a date-partitioned store, and collecting
  * the result. */
object FetchWorkload {

  val Clients = 2
  val SetupReps = 3
  val Scale = 1.0
  val Blocks = 100
  val PartKey: (String, String) = ("date", "yyyyMMdd")

  /** The answer key: `SyntheticTrades.trades`' derivation redone in
    * plain Scala over the fixture's event rows, filtered and ordered by
    * hand, without the library's API, store or pruning. */
  final class Oracle(events: Seq[Row]) {
    private val trades = events.map { e =>
      val value = e.getDouble(4)
      Inputs.Trade(e.getLong(0), Timestamps.toMicros(e.getTimestamp(1)), e.getLong(2), value,
        value / 100.0, value)
    }.sortBy(_.tsUs).toArray
    private val ts = trades.map(_.tsUs)

    private def lowerBound(us: Long): Int = {
      var lo = 0; var hi = ts.length
      while (lo < hi) { val m = (lo + hi) >>> 1; if (ts(m) < us) lo = m + 1 else hi = m }
      lo
    }

    def answer(q: Inputs.FetchRequest): String = {
      val hits = (lowerBound(q.startUs) until lowerBound(q.endUs)).iterator.map(trades(_))
        .filter { t =>
          t.underlying == q.underlying && q.optionType.forall(_ == t.optionType) &&
          q.expiry.forall(_ == t.expiry) && q.strike.forall(_ == t.strike)
        }.toVector.sortBy(t => (-t.tsUs, t.tradeId))
      Digest.ofSequence(q.limit.fold(hits)(hits.take).map(t => s"${t.tradeId}|${t.tsUs}|${t.price}"))
    }
  }

  def key(r: Row): String =
    s"${r.getAs[String]("trade_id")}|${Timestamps.toMicros(r.getAs[java.sql.Timestamp]("timestamp"))}|" +
      r.getAs[Double]("price")

  /** One request as an analyst sends it: open the store, add the
    * partition predicate if the request carries one, compose, collect. */
  def fetch(ctx: Ctx, store: String, q: Inputs.FetchRequest): Array[Row] = {
    val stored = ctx.spans.span("sources.open")(TradesStore.read(ctx.spark, store))
    val (d0, d1) = q.days
    val scoped =
      if (q.pruned) stored.filter(TradesStore.timeRangePartitionFilter(d0, d1, PartKey))
      else stored
    val df = ctx.spans.span("api.compose")(TradesApi.fetch(scoped, q.params))
    ctx.spans.span("fetch.collect")(df.collect())
  }

  /** [[Clients]] threads, each running `body` on the next index until
    * `next` has none left; the first exception a thread dies of is
    * rethrown once all have ended. */
  private def closedLoop(next: () => Option[Int])(body: Int => Unit): Unit = {
    val died = new AtomicReference[Throwable]()
    val threads = (0 until Clients).map { _ =>
      new Thread(() => {
        try {
          var i = next()
          while (i.isDefined) { body(i.get); i = next() }
        } catch { case e: Throwable => died.compareAndSet(null, e) }
      }, "fetch-client")
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
    Option(died.get).foreach(e => throw e)
  }

  def run(ctx: Ctx): Outcome = {
    val spark = ctx.spark
    val fixture = ctx.step("fixture")(Fixture.ensure(spark, ctx.opts.fixtureDir, Scale)).getOrElse("")
    val requests = Inputs.fetchRequests(ctx.opts.seed, Blocks)

    var store = ""
    val reps = (1 to SetupReps).map { rep =>
      val t0 = System.nanoTime()
      val path = s"${ctx.dir("stores")}/trades-$rep"
      ctx.step("store_build") {
        ctx.spans.span("sources.write") {
          TradesStore.write(SyntheticTrades.trades(spark, fixture), path, partKey = PartKey)
        }
      }
      ctx.step("warmup") {
        TradesStore.read(spark, path).count()
        requests.take(2).foreach(fetch(ctx, path, _))
      }
      store = path
      (System.nanoTime() - t0) / 1e9
    }

    // one block from the end of the list at full concurrency, so the
    // measured requests run on compiled code
    ctx.step("warmup_block") {
      val warm = new AtomicInteger(requests.size - Inputs.FetchBlock)
      closedLoop(() => Some(warm.getAndIncrement()).filter(_ < requests.size)) { i =>
        fetch(ctx, store, requests(i))
      }
    }

    val latencies = new ConcurrentLinkedQueue[Double]()
    val returned = new AtomicLong
    val answers = new ConcurrentLinkedQueue[(Int, String)]()
    val gc0 = ctx.gcSeconds
    val t0 = System.nanoTime()
    val deadline = t0 + ctx.opts.seconds * 1000000000L
    // whole blocks only, started while the run's time lasts
    var issued = 0
    def nextRequest(): Option[Int] = synchronized {
      val go = issued % Inputs.FetchBlock != 0 || System.nanoTime() < deadline
      if (go && issued < requests.size - Inputs.FetchBlock) { issued += 1; Some(issued - 1) }
      else None
    }
    closedLoop(nextRequest _) { i =>
      val s0 = System.nanoTime()
      val rows = ctx.spans.op(s"fetch-$i", "fetch.request") {
        try Right(fetch(ctx, store, requests(i))) catch { case e: Exception => Left(e) }
      }
      val ms = Harness.ms(s0)
      rows match {
        case Right(rs) =>
          latencies.add(ms)
          returned.addAndGet(rs.length)
          answers.add(i -> Digest.ofSequence(rs.toSeq.map(key)))
        case Left(e) =>
          ctx.record(s"fetch-$i", ok = false, s"${e.getClass.getSimpleName}: ${e.getMessage}")
      }
    }
    val wallS = (System.nanoTime() - t0) / 1e9
    val gcS = ctx.gcSeconds - gc0

    // every answer against the plain-Scala derivation of the same events
    val oracle = new Oracle(Fixture.events(Fixture.sizes(Scale).events))
    answers.asScala.foreach { case (i, got) =>
      val want = oracle.answer(requests(i))
      ctx.record(s"fetch-$i", got == want, s"request $i: digest $got, expected $want")
    }

    val lat = latencies.asScala.toVector
    val tail = Stats.tailPercentile(lat.size)
    val p50 = if (lat.isEmpty) 0.0 else Stats.median(lat)
    val p95 = if (lat.isEmpty) 0.0 else Stats.percentile(lat, 95)
    val qps = lat.size / wallS
    val named = Seq(
      Named("fetch_p50_ms", "ms", p50, lat.size),
      Named("fetch_p95_ms", "ms", p95, lat.size),
      Named("fetch_qps", "1/s", qps, lat.size))

    val layers = ctx.traceView().map { v =>
      val ops = v.named("fetch.request")
      val reads = v.work(ops)
      Layers.spark(reads, ops.size, wallS, gcS) ++ Map(
        "api.compose_ms" -> Layers.median(v.durationsMs("api.compose")),
        "sources.open_ms" -> Layers.median(v.durationsMs("sources.open")),
        "sources.files_scanned" -> reads.files.toDouble / math.max(1, ops.size),
        "sources.scan_mb" -> reads.scanBytes / 1e6 / math.max(1, ops.size),
        "sources.rows_examined_per_row" -> reads.scanRows.toDouble / math.max(1L, returned.get))
    }.getOrElse(Map.empty)

    Outcome(reps, p50, qps, named, layers,
      Map("clients" -> Clients, "requests" -> lat.size,
        "tail_percentile" -> tail.getOrElse(0.0),
        "tail_ms" -> tail.map(p => Stats.percentile(lat, p)).getOrElse(0.0)))
  }
}
