package perfbench

import java.io.File
import java.nio.file.{Files, Paths}
import graft.catalog.ManifestCatalog
import graft.ingest.CsvIngest
import graft.model.ManifestEntry
import graft.ops.SeriesOps
import graft.storage.{LakeMaintenance, LakeReader, LakeWriter, SeriesKey, WriteReport}
import scala.collection.mutable

/** The reference's main job: candle batches are ingested (merge-write
  * plus catalog commit) and recent ranges are read back and resampled.
  *
  * Generator: the seeded random walk of FIXTURES.md §1, 1m candles for
  * `Series` series. Batches have the reference's shape: its downloader
  * fetches pages of `PageRows` candles and saves a chunk every
  * `FlushRows`, so one batch is one flush of `FlushRows` minutes. Each
  * series starts with `HistoryFlushes` flushes of history; a write sends one batch to
  * one series and a read reads one range back. Batches mostly append at
  * the tail; a fixed share re-send the last page before the tail with
  * new values (last-wins), another share prepend older minutes
  * (`Kinds`). Every `MaintainEvery` writes the written series is
  * compacted and the catalog log compacted, inline.
  */
final class LakeIngest extends Workload {
  import LakeIngest._

  private final class SeriesGen(val key: SeriesKey, val stats: Boolean, var head: Long,
                                var tail: Long, var close: Double) {
    /** ts -> CSV row, the expected last-wins state. */
    val rows = mutable.LongMap.empty[String]
  }

  private var root = ""
  private var rng: java.util.Random = _
  private var csvDir = ""
  private var series: IndexedSeq[SeriesGen] = IndexedSeq.empty
  private var ingest: CsvIngest = _
  private var statsIngest: CsvIngest = _
  private var writer: LakeWriter = _
  private var statsWriter: LakeWriter = _
  private var catalog: ManifestCatalog = _
  private val reports = mutable.ArrayBuffer.empty[WriteReport]
  private var batchNo = 0

  def setup(ctx: Ctx): Unit = {
    val spark = ctx.spark
    root = ctx.dir("lake")
    csvDir = ctx.dir("csv")
    rng = ctx.rng
    writer = new LakeWriter(spark, root)
    statsWriter = new LakeWriter(spark, root, statsColumns = Seq("ts"))
    catalog = new ManifestCatalog(spark, root)
    ingest = new CsvIngest(spark, writer, catalog)
    statsIngest = new CsvIngest(spark, statsWriter, catalog)
    series = (0 until Series).map { s =>
      new SeriesGen(SeriesKey("BENCH", "spot", f"SYM$s%02d", "raw", "1m"),
        stats = s >= Series - StatsSeries, head = Start, tail = Start - MinMs, close = 1000.0)
    }
    for (g <- series; _ <- 0 until HistoryFlushes) {
      val path = writeCsv(g, append(g, FlushRows))
      reports += ingestOf(g).ingestCsv(path, g.key.exchange, g.key.market, g.key.symbol)
    }
    // warm the read path once per reader kind
    series.foreach(read(ctx, _, Windows.size - 1))
  }

  private def ingestOf(g: SeriesGen): CsvIngest = if (g.stats) statsIngest else ingest
  private def writerOf(g: SeriesGen): LakeWriter = if (g.stats) statsWriter else writer

  /** The FIXTURES §1 walk: close += N(0,1)*2, high/low = close ± |N|,
    * volume = |N*100| + 10, open = previous close.
    */
  private def candle(g: SeriesGen, ts: Long): String = {
    val open = g.close
    g.close = g.close + rng.nextGaussian() * 2.0
    val high = g.close + math.abs(rng.nextGaussian())
    val low = g.close - math.abs(rng.nextGaussian())
    val vol = math.abs(rng.nextGaussian() * 100) + 10
    f"$ts,$open%.6f,$high%.6f,$low%.6f,${g.close}%.6f,$vol%.6f"
  }

  private def append(g: SeriesGen, n: Int): Seq[Long] = {
    val ts = (1 to n).map(k => g.tail + k * MinMs)
    g.tail += n * MinMs
    ts
  }

  /** One batch's minutes, by kind: tail append, re-send of the last
    * page followed by new minutes, or backfill of older minutes.
    */
  private def nextBatch(g: SeriesGen, w: Int): Seq[Long] = {
    val n = FlushRows
    Kinds(w % Kinds.size) match {
      case "backfill" =>
        val ts = (n to 1 by -1).map(k => g.head - k * MinMs)
        g.head -= n * MinMs
        ts
      case "overlap" =>
        val back = PageRows
        (back - 1 to 0 by -1).map(k => g.tail - k * MinMs) ++ append(g, n - back)
      case _ => append(g, n)
    }
  }

  private def writeCsv(g: SeriesGen, ts: Seq[Long]): String = {
    batchNo += 1
    val path = s"$csvDir/batch-$batchNo.csv"
    val sb = new StringBuilder("ts,open,high,low,close,volume\n")
    ts.foreach { t => val row = candle(g, t); g.rows(t) = row; sb.append(row).append('\n') }
    Files.writeString(Paths.get(path), sb.toString)
    path
  }

  /** A pass: one write of each entry of `Kinds`, each followed by a
    * read; a run measures whole passes, so every run sees the batch kinds
    * in their shares and one maintenance.
    */
  override def passLength: Int = 2 * Kinds.size
  private var reads = 0

  def op(ctx: Ctx, i: Int): String =
    if (i % 2 == 0) write(ctx, i / 2)
    else { reads += 1; read(ctx, series(reads % series.size), reads / 2); "read" }

  /** Write `w`: one batch into series `w mod Series`, kind by rotation;
    * every `MaintainEvery` writes the series and the catalog log are
    * compacted inline.
    */
  private def write(ctx: Ctx, w: Int): String = {
    val t = ctx.tracer
    val g = series(w % series.size)
    val ts = nextBatch(g, w)
    val path = writeCsv(g, ts)
    reports +=
      (if (!t.active) ingestOf(g).ingestCsv(path, g.key.exchange, g.key.market, g.key.symbol)
      else {
        // the calls ingestCsv makes, timed one by one
        val before = listing(seriesDir(g))
        val df = t.span("ingest.read_csv")(ingestOf(g).readCsv(path))
        val r = t.span("storage.write_ohlc")(writerOf(g).writeOhlc(df, g.key))
        val sha = t.span("ingest.sha256")(ingestOf(g).sha256File(path))
        t.span("catalog.add_entry")(catalog.addEntry(ManifestEntry(
          exchange = g.key.exchange, market = g.key.market, symbol = g.key.symbol,
          path = catalogPath(g.key), `type` = "raw", time_from = r.timeFrom, time_to = r.timeTo,
          version = "1", checksum = sha, created_at = System.currentTimeMillis(),
          script_git_hash = "", metadata_json = s"""{"timeframe": "1m", "source_file": "$path"}""")))
        val after = listing(seriesDir(g))
        ctx.sample("storage.bytes_written_per_user_byte",
          after.filter { case (f, _) => !before.contains(f) }.values.sum.toDouble / new File(path).length())
        ctx.sample("storage.files_rewritten_per_write", before.keySet.count(!after.contains(_)).toDouble)
        r
      })
    if ((w + 1) % MaintainEvery == 0) {
      val before = listing(root)
      t.span("storage.compact")(new LakeMaintenance(ctx.spark, root).compactSeries(g.key))
      t.span("catalog.compact")(catalog.compact())
      if (t.active) ctx.sample("storage.compact_bytes_rewritten",
        listing(root).filter { case (f, _) => !before.contains(f) }.values.sum.toDouble)
    }
    "write"
  }

  /** A window ending at the series' tail, of length `Windows(n mod
    * Windows.size)`; stats-indexed series read through the index.
    */
  private def read(ctx: Ctx, g: SeriesGen, n: Int): Unit = {
    val t = ctx.tracer
    val span = Windows(n % Windows.size) * MinMs
    val (lo, hi) = (math.max(g.head, g.tail - span), g.tail)
    val reader = new LakeReader(ctx.spark, root)
    val df = t.span("storage.read_range") {
      if (g.stats) {
        val (d, dec) = reader.readWhereInRange(g.key, "ts", lo, hi, lo, hi)
        if (t.active && dec.total > 0) ctx.sample("storage.stats_skip_ratio", dec.skipped.toDouble / dec.total)
        d
      } else reader.readRange(g.key.exchange, g.key.symbol, "raw", lo, hi)
    }
    val (hourly, rows) = t.span("ops.resample") {
      val h = SeriesOps.resampleOhlcv(df, "1h"); (h, h.collect())
    }
    if (t.active) ctx.sample("storage.files_read_per_read", graft.core.PlanInspect.filesRead(hourly).toDouble)
    require(rows.nonEmpty, s"empty read of ${g.key.symbol} [$lo, $hi]")
  }

  override def probe(ctx: Ctx, i: Int): Unit = {
    val g = series(i % series.size)
    ctx.sample("catalog.snapshot_ms", timeMs(catalog.snapshot().count()))
    ctx.sample("catalog.max_time_to_ms", timeMs(catalog.maxTimeTo(g.key.exchange, g.key.symbol, "raw")))
    ctx.sample("catalog.log_files", listing(s"$root/_manifest/log").size.toDouble)
    ctx.sample("storage.lake_files", listing(root).keys.count(_.endsWith(".parquet")).toDouble)
  }

  def checks(ctx: Ctx): Seq[Check] = {
    val spark = ctx.spark
    val reader = new LakeReader(spark, root)
    val live = series.map(_.rows.size.toLong).sum
    val perSeries = series.map { g =>
      val df = reader.readRange(g.key.exchange, g.key.symbol, "raw", Long.MinValue / 4, Long.MaxValue / 4)
        .select("ts", "open", "high", "low", "close", "volume")
      val got = df.collect().map(r => rowHash(r.getLong(0), (1 to 5).map(r.getDouble)))
      val want = g.rows.valuesIterator.map { line =>
        val f = line.split(',')
        rowHash(f(0).toLong, f.drop(1).map(_.toDouble).toSeq)
      }.toSeq
      (g.key.symbol, got.length == want.size && got.sum == want.sum, s"${got.length}/${want.size} rows")
    }
    val snap = catalog.snapshot().select("path").collect().map(_.getString(0)).toSeq
    val paths = series.map(g => catalogPath(g.key)).toSet
    val v0 = System.nanoTime()
    val all = series.map(g => reader.readRange(g.key.exchange, g.key.symbol, "raw",
      Long.MinValue / 4, Long.MaxValue / 4).select("symbol", "ts")).reduce(_ unionByName _)
    val integrity = SeriesOps.verifyIntegrity(all, Seq("symbol")).collect()
    ctx.sample("ops.verify_ms", (System.nanoTime() - v0) / 1e6)
    val bytes = listing(root).values.sum
    ctx.figures("bytes_per_row") = (bytes.toDouble / live, "B")
    ctx.sample("storage.bytes_per_row", bytes.toDouble / live)
    Seq(
      Check("lake_equals_last_wins", perSeries.forall(_._2),
        perSeries.map { case (s, ok, d) => s"$s:${if (ok) "ok" else "MISMATCH"}($d)" }.mkString(" ")),
      Check("write_reports_monotonic", reports.forall(_.monotonic),
        s"${reports.count(_.monotonic)}/${reports.size} monotonic"),
      Check("catalog_one_entry_per_series", snap.sorted == paths.toSeq.sorted,
        s"${snap.size} entries for ${paths.size} series"),
      Check("integrity_no_gaps_or_overlaps",
        integrity.forall(r => r.getAs[Long]("gap_count") == 0L && r.getAs[Long]("overlap_count") == 0L),
        s"${integrity.length} series, gaps=${integrity.map(_.getAs[Long]("gap_count")).sum} " +
          s"overlaps=${integrity.map(_.getAs[Long]("overlap_count")).sum}"))
  }

  private def seriesDir(g: SeriesGen): String = {
    val k = g.key.sanitized
    s"$root/exchange=${k.exchange}/market=${k.market}/symbol=${k.symbol}/type=raw/period=1m"
  }
}

object LakeIngest {
  val Series = 2
  val StatsSeries = 1
  /** The reference downloader's fetch page and flush sizes, in candles
    * (SURVEY.md §2.9 T2, BASELINE.md).
    */
  val PageRows = 1000
  val FlushRows = 5000
  val HistoryFlushes = 1
  /** Batch kinds in a fixed rotation: every run, short or long, sees
    * the same shares (60% append, 20% overlap, 20% backfill). The shares
    * are this benchmark's choice; the reference records none.
    */
  val Kinds = Seq("append", "overlap", "backfill", "append", "append")
  val MaintainEvery = Kinds.size
  /** Read windows in minutes, in rotation: 6 h, 12 h, 1 day, 2 days. Like
    * the shares, this benchmark's choice: the reference records no read
    * pattern.
    */
  val Windows = Seq(360L, 720L, 1440L, 2880L)
  val MinMs = 60000L
  /** 2024-01-28T12:40Z: the history ends on 31 January at midnight, so
    * the first appends cross a month boundary.
    */
  val Start = 1706445600000L

  /** CsvIngest's catalog path for a series. */
  def catalogPath(key: SeriesKey): String = {
    val s = key.sanitized
    s"exchange=${s.exchange}/market=${s.market}/symbol=${s.symbol}/type=${s.`type`}/period=${s.period}"
  }

  /** Files under `dir` (recursive) with their sizes. */
  def listing(dir: String): Map[String, Long] = {
    val p = Paths.get(dir)
    if (!Files.exists(p)) Map.empty
    else {
      val s = Files.walk(p)
      try s.filter(Files.isRegularFile(_)).toArray.map(_.asInstanceOf[java.nio.file.Path])
        .map(f => f.toString -> Files.size(f)).toMap
      finally s.close()
    }
  }

  def timeMs[T](body: => T): Double = { val s = System.nanoTime(); body; (System.nanoTime() - s) / 1e6 }

  /** Order-independent row identity: equal sums of these over two row
    * sets mean (with overwhelming probability) equal multisets.
    */
  def rowHash(ts: Long, vals: Seq[Double]): Long = {
    var h = mix(ts)
    vals.foreach(v => h = mix(h ^ java.lang.Double.doubleToLongBits(v)))
    h
  }

  private def mix(x0: Long): Long = {
    var x = x0 + 0x9E3779B97F4A7C15L
    x = (x ^ (x >>> 30)) * 0xBF58476D1CE4E5B9L
    x = (x ^ (x >>> 27)) * 0x94D049BB133111EBL
    x ^ (x >>> 31)
  }
}
