package perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.{OutputMode, StreamingQuery, StreamingQueryProgress, Trigger}

import graft.operators.WeatherOps
import graft.streaming.WeatherStreams

/** `stream_enrich`: the paper's topology as two streams in an open loop.
  *
  * Weather readings (raw JSON) go through `parseWeatherStream` and
  * `cellHistoryStream`, in update mode; the sink upserts each updated cell
  * into a driver-side table of per-cell histories (the KTable). Hotel
  * records go through `parseAddress` and `enrichStream`, one AvailableNow
  * run after another, each joined with a snapshot of that table. The
  * snapshot holds one row per cell, so its cost does not grow with the run.
  *
  * One generator thread appends the pre-built records to the two memory
  * sources on a fixed schedule, whatever the system's progress, and logs
  * how late each append ran. A record's latency runs from the time it was
  * due to the end of the sink write of the batch that included it.
  *
  * The weather query triggers every `TriggerMs` (Spark aligns triggers to
  * multiples of the interval since the epoch), and the window starts at a
  * fixed phase of that grid. The hotel feeds post their bursts between
  * weather triggers (see gen.py), so the two paths take turns on the cores
  * instead of queueing behind each other's tasks, and runs differ in the
  * work a trigger does, not in where the schedule happens to fall. About
  * half of a reading's latency is its wait on an idle query for the next
  * trigger time, which the program does not set; the work of the triggers
  * shows undiluted in `records_per_s`: the window's records over the busy
  * time of the two paths (weather triggers, and hotel runs from start to
  * end).
  *
  * A pass of the stream is one weather trigger: `pass_s` is their median
  * over the window. */
object Stream {
  val name = "stream_enrich"
  private val TickMs = 20
  private val TriggerMs = 3000L
  private val PhaseMs = 100L
  private val PrimeBatches = 8
  private val InvalidLateMs = 500.0

  final case class Rec(weather: Boolean, prime: Boolean, dueMs: Double, line: String)

  /** One append: the source offset it produced, the records' due times
    * (ms after the window start) and when the append ran (nanoTime). */
  final case class Append(offset: Long, dueMs: Array[Double], atNs: Long)

  private def load(path: String): Seq[Rec] = {
    val src = scala.io.Source.fromFile(path, "UTF-8")
    try src.getLines().map { l =>
      val Array(k, due, line) = l.split("\t", 3)
      Rec(k.equalsIgnoreCase("w"), k.head.isUpper, due.toDouble, line)
    }.toVector finally src.close()
  }

  /** A weather query and its history table. The query can be stopped and
    * started again from its checkpoint with another trigger. */
  final class WeatherPath(spark: SparkSession, ckpt: String) {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val in: MemoryStream[String] = MemoryStream[String]
    val history = new ConcurrentHashMap[String, Row]()
    @volatile var schema: org.apache.spark.sql.types.StructType = _
    val sinkEndNs = scala.collection.concurrent.TrieMap.empty[Long, Long]
    private val histories =
      WeatherStreams.cellHistoryStream(WeatherStreams.parseWeatherStream(in.toDF().toDF("value")))
    var query: StreamingQuery = _
    /** Progress of the earlier runs of this query. */
    val earlier = mutable.ArrayBuffer.empty[StreamingQueryProgress]

    def stop(): Unit = if (query != null) {
      query.stop()
      earlier ++= query.recentProgress
      query = null
    }

    def start(trigger: Trigger): Unit = {
      stop()
      query = histories.writeStream.outputMode(OutputMode.Update())
        .option("checkpointLocation", ckpt)
        .trigger(trigger)
        .foreachBatch { (batch: DataFrame, id: Long) =>
          val rows = batch.collect()
          if (schema == null) schema = batch.schema
          rows.foreach(r => history.put(r.getString(0), r))
          version.incrementAndGet()
          sinkEndNs(id) = System.nanoTime()
          ()
        }.start()
    }

    private val version = new java.util.concurrent.atomic.AtomicLong(0)
    private var cached: (Long, DataFrame) = (-1L, null)

    /** The table as of the last history update; rebuilt only after one. */
    def snapshot(): DataFrame = synchronized {
      val v = version.get()
      if (cached._1 != v) cached = (v, spark.createDataFrame(
        new java.util.ArrayList[Row](history.values()), schema))
      cached._2
    }
  }

  /** Hotel path: AvailableNow runs of `enrichStream` over one source. */
  final class EnrichPath(spark: SparkSession, weather: WeatherPath, ckpt: String) {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val in: MemoryStream[String] = MemoryStream[String]
    private val addresses = WeatherOps.parseAddress(in.toDF().toDF("value"))
    val runs = mutable.ArrayBuffer.empty[EnrichRun]
    var enrichedRows = 0L

    def runOnce(): Unit = {
      val starts = mutable.ArrayBuffer.empty[(Long, Long)]
      val t0 = System.nanoTime()
      val q = WeatherStreams.enrichStream(addresses, () => weather.snapshot(), ckpt) { df =>
        val s = System.nanoTime()
        enrichedRows += df.collect().length
        starts += ((s, System.nanoTime()))
      }
      q.awaitTermination()
      val end = System.nanoTime()
      runs += EnrichRun(t0, starts.headOption.map(_._1).getOrElse(end), end,
        starts.toSeq, q.recentProgress.toSeq.filter(_.numInputRows > 0))
    }
  }

  /** One AvailableNow run of the hotel path (nanoTime): its start, its
    * first sink entry, its end, and the start and end of each sink write. */
  final case class EnrichRun(startNs: Long, firstSinkNs: Long, endNs: Long,
      sinks: Seq[(Long, Long)], progress: Seq[StreamingQueryProgress]) {
    def rows: Long = progress.map(_.numInputRows).sum
  }

  private def dur(p: StreamingQueryProgress, k: String): Double =
    Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)

  private def endOffset(p: StreamingQueryProgress): Long =
    Option(p.sources.head.endOffset).map(_.trim.toLong).getOrElse(-1L)
  private def startOffset(p: StreamingQueryProgress): Long =
    Option(p.sources.head.startOffset).filter(_ != "null").map(_.trim.toLong).getOrElse(-1L)

  def run(spark: SparkSession, a: Args, spans: Spans): Result = {
    val recs = load(a.stream)
    val (prime, timed) = recs.partition(_.prime)
    val leadMs = -timed.head.dueMs
    val primeW = prime.filter(_.weather).map(_.line)
    val primeH = prime.filterNot(_.weather).map(_.line)

    // set-up, once: start both paths and push the priming records through
    // in PrimeBatches weather batches, back to back; then restart the
    // weather query from its checkpoint on the trigger interval, with the
    // last priming batch waiting, so the restarted query reloads its state
    // before the window opens
    val t0Setup = System.nanoTime()
    val wp = new WeatherPath(spark, s"${a.out}/ckpt/weather")
    val ep = new EnrichPath(spark, wp, s"${a.out}/ckpt/enrich")
    val chunks = primeW.grouped((primeW.size + PrimeBatches - 1) / PrimeBatches).toSeq
    wp.start(Trigger.ProcessingTime(0L))
    chunks.init.foreach { chunk =>
      wp.in.addData(chunk)
      wp.query.processAllAvailable()
    }
    ep.in.addData(primeH)
    ep.runOnce()
    wp.stop()
    wp.in.addData(chunks.last)
    wp.start(Trigger.ProcessingTime(TriggerMs))
    wp.query.processAllAvailable()
    val setup = (System.nanoTime() - t0Setup) / 1e9
    System.gc() // set-up garbage is collected here, not during the window
    val primeRuns = ep.runs.size

    // traced runs listen from the lead on and restart the totals when the
    // window opens
    val trace = if (a.trace) Some(new SparkTrace(spark, spans)) else None
    trace.foreach(_.attach())
    @volatile var gc0 = 0L
    def openWindow(): Unit = {
      trace.foreach(_.swap())
      gc0 = Jvm.gcMs
      Jvm.resetHeapPeak()
    }

    // the open loop
    val wAppends = mutable.ArrayBuffer.empty[Append]
    val hAppends = mutable.ArrayBuffer.empty[Append]
    val lateMs = mutable.ArrayBuffer.empty[Double]
    // the window opens at PhaseMs past a trigger boundary, after the lead
    val (t0Ns, t0Wall) = {
      val wall = System.currentTimeMillis()
      val start = ((wall + leadMs.toLong + 50) / TriggerMs + 1) * TriggerMs + PhaseMs
      (System.nanoTime() + (start - wall) * 1000000L, start)
    }
    @volatile var sending = true
    @volatile var lastHotelOffset = -1L
    val generator = new Thread(() => {
      var i = 0
      var tick = 0L
      var opened = false
      while (i < timed.size) {
        val upTo = tick * TickMs - leadMs
        if (!opened && upTo >= 0) { openWindow(); opened = true }
        val dueTick = t0Ns + (upTo * 1000000L).toLong
        val wait = dueTick - System.nanoTime()
        if (wait > 0) Thread.sleep(wait / 1000000L, (wait % 1000000L).toInt)
        val now = System.nanoTime()
        lateMs += (now - dueTick) / 1e6
        val w = mutable.ArrayBuffer.empty[Rec]
        val h = mutable.ArrayBuffer.empty[Rec]
        while (i < timed.size && timed(i).dueMs <= upTo) {
          if (timed(i).weather) w += timed(i) else h += timed(i)
          i += 1
        }
        if (w.nonEmpty) wAppends += Append(wp.in.addData(w.map(_.line)).json().toLong,
          w.map(_.dueMs).toArray, now)
        if (h.nonEmpty) {
          val off = ep.in.addData(h.map(_.line)).json().toLong
          hAppends += Append(off, h.map(_.dueMs).toArray, now)
          lastHotelOffset = off
        }
        tick += 1
      }
      sending = false
    }, "perfbench-generator")
    generator.setDaemon(true)
    generator.start()

    // hotel runs back to back while records keep arriving, then until the
    // last appended hotel is processed
    var processedHotelOffset = ep.runs.flatMap(_.progress).map(endOffset).maxOption.getOrElse(-1L)
    while (sending || processedHotelOffset < lastHotelOffset) {
      if (lastHotelOffset > processedHotelOffset) {
        ep.runOnce()
        processedHotelOffset = (processedHotelOffset +: ep.runs.last.progress.map(endOffset)).max
      } else Thread.sleep(2)
    }
    generator.join()
    wp.query.processAllAvailable()
    val lastW = wAppends.lastOption.map(_.offset).getOrElse(-1L)
    val deadline = System.currentTimeMillis() + 60000
    def weatherProgress = wp.query.recentProgress.toSeq.filter(_.numInputRows > 0)
    while (!weatherProgress.exists(p => endOffset(p) >= lastW) &&
      System.currentTimeMillis() < deadline) Thread.sleep(5)
    wp.query.stop()
    val layerTotals = trace.map { t => t.detach(); t.swap() }
    val tracedMs = (System.nanoTime() - t0Ns) / 1e6
    val gcMs = Jvm.gcMs - gc0
    val heapPeak = Jvm.heapPeakMb

    // latencies: each record from its due time to its batch's sink end
    val wProg = weatherProgress
    // the triggers and hotel runs that started inside the measured window
    val iso = java.time.format.DateTimeFormatter.ISO_DATE_TIME
    def epochMs(ts: String) = java.time.Instant.from(iso.parse(ts)).toEpochMilli.toDouble
    val wWin = wProg.filter(p => epochMs(p.timestamp) >= t0Wall)
    def latencies(appends: Seq[Append], batches: Seq[(Long, Long, Long)]): Seq[(Double, Double)] =
      appends.flatMap { ap =>
        batches.find { case (s, e, _) => ap.offset > s && ap.offset <= e } match {
          case Some((_, _, endNs)) =>
            val doneMs = (endNs - t0Ns) / 1e6
            ap.dueMs.toSeq.map(d => (d, doneMs - d))
          case None => Seq.empty
        }
      }
    val wBatches = wProg.map(p => (startOffset(p), endOffset(p),
      wp.sinkEndNs.getOrElse(p.batchId, 0L)))
    val measuredRuns = ep.runs.drop(primeRuns).toSeq
    val winRuns = measuredRuns.filter(_.startNs >= t0Ns)
    val hBatches = measuredRuns.flatMap { r =>
      r.progress.zip(r.sinks).map { case (p, (_, endNs)) => (startOffset(p), endOffset(p), endNs) }
    }
    val wAll = latencies(wAppends.toSeq, wBatches)
    val hAll = latencies(hAppends.toSeq, hBatches)
    val wLat = wAll.filter(_._1 >= 0)
    val hLat = hAll.filter(_._1 >= 0)
    val nW = wAppends.map(_.dueMs.length).sum
    val nH = hAppends.map(_.dueMs.length).sum
    // records committed per second of busy time: weather triggers of the
    // window, and hotel runs of the window from start to end
    val busyS = wWin.map(dur(_, "triggerExecution")).sum / 1000 +
      winRuns.map(r => (r.endNs - r.startNs) / 1e9).sum
    val busyRows = wWin.map(_.numInputRows).sum + winRuns.map(_.rows).sum

    // correctness: the batch pipeline over the same inputs
    val allW = (primeW ++ timed.filter(_.weather).map(_.line))
    val allH = (primeH ++ timed.filterNot(_.weather).map(_.line))
    import spark.implicits._
    def batchHistory = WeatherOps.cellHistory(WeatherOps.dailyAverage(
      WeatherOps.parseWeather(allW.toDF("value")), keyCols = Seq("hash"), exact = true),
      keyCol = "hash").withColumnRenamed("hash", "key")
    def batchEnriched = WeatherOps.enrich(WeatherOps.parseAddress(allH.toDF("value")), batchHistory)
    val problems = mutable.ArrayBuffer.empty[String]
    val refHistory = batchHistory.collect().map(r => r.getString(0) -> weatherList(r.getSeq[Row](1))).toMap
    val gotHistory = wp.history.asScala.map { case (k, r) => k -> weatherList(r.getSeq[Row](1)) }.toMap
    val badCells = (refHistory.keySet ++ gotHistory.keySet).count(k =>
      !(refHistory.contains(k) && gotHistory.contains(k) && same(refHistory(k), gotHistory(k))))
    if (badCells > 0) problems += s"history: $badCells of ${refHistory.size} cells differ"
    // a fresh enrich run over every hotel against the final table
    val finalEp = new EnrichPath(spark, wp, s"${a.out}/ckpt/enrich-final")
    val finalRows = mutable.ArrayBuffer.empty[Row]
    locally {
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
      finalEp.in.addData(allH)
      val q = WeatherStreams.enrichStream(WeatherOps.parseAddress(finalEp.in.toDF().toDF("value")),
        () => wp.snapshot(), s"${a.out}/ckpt/enrich-check") { df => finalRows ++= df.collect() }
      q.awaitTermination()
    }
    def byId(rows: Iterable[Row]) = rows.map { r =>
      r.getAs[String]("id") -> weatherList(r.getAs[scala.collection.Seq[Row]]("weather_list"))
    }.toMap
    val refEnriched = byId(batchEnriched.collect())
    val gotEnriched = byId(finalRows)
    val badHotels = (refEnriched.keySet ++ gotEnriched.keySet).count(k =>
      !(refEnriched.contains(k) && gotEnriched.contains(k) && same(refEnriched(k), gotEnriched(k))))
    if (badHotels > 0) problems += s"enrich: $badHotels of ${refEnriched.size} hotels differ"
    // every sent record was taken in exactly once
    val wIn = (wp.earlier ++ wp.query.recentProgress).map(_.numInputRows).sum
    val hIn = ep.runs.map(_.rows).sum
    if (wIn != allW.size) problems += s"weather: ${allW.size} sent, $wIn read"
    if (hIn != allH.size) problems += s"hotels: ${allH.size} sent, $hIn read"
    val maxLate = if (lateMs.isEmpty) 0.0 else lateMs.max
    val valid = maxLate <= InvalidLateMs
    if (!valid) problems += f"generator fell behind schedule by $maxLate%.1f ms"

    val missing = (nW - wAll.size) + (nH - hAll.size)
    val attempted = (nW + nH).toLong
    val histLat = wLat.map(_._2)
    val enrLat = hLat.map(_._2)
    val e2e = Map(
      "setup_s" -> setup,
      "pass_s" -> Stats.median(wWin.map(dur(_, "triggerExecution") / 1000)),
      "records_per_s" -> busyRows / busyS,
      "latency_p50_ms" -> Stats.quantile(histLat, 0.5),
      "latency_p90_ms" -> Stats.quantile(histLat, 0.9))

    // per-layer readings from the query progress of the measured window
    def state(f: org.apache.spark.sql.streaming.StateOperatorProgress => Double): Seq[Double] =
      wWin.flatMap(_.stateOperators.headOption).map(f)
    // backlog: records appended but not yet committed, at each batch end
    val appendedBy = (wAppends.map(a => (a.atNs, a.dueMs.length)) ++
      hAppends.map(a => (a.atNs, a.dueMs.length))).sortBy(_._1)
    def appendedAt(ns: Long) = appendedBy.takeWhile(_._1 <= ns).map(_._2).sum
    val commitTimes = ((wAll ++ hAll).map { case (d, l) => t0Ns + ((d + l) * 1e6).toLong }).sorted
    def committedAt(ns: Long) = {
      val i = java.util.Arrays.binarySearch(commitTimes.toArray, ns)
      if (i >= 0) i + 1 else -i - 1
    }
    val backlog = (wBatches.map(_._3) ++ hBatches.map(_._3)).filter(_ >= t0Ns).map(ns =>
      (appendedAt(ns) - committedAt(ns)).toDouble)
    val layers: Map[String, Double] = layerTotals.fold(Map.empty[String, Double]) { t =>
      val wallMs = tracedMs
      Map(
        "state.commit_ms" -> Stats.median(state(_.commitTimeMs.toDouble)),
        "state.updates_ms" -> Stats.median(state(_.allUpdatesTimeMs.toDouble)),
        "state.rows_total" -> state(_.numRowsTotal.toDouble).lastOption.getOrElse(0.0),
        "state.memory_bytes" -> state(_.memoryUsedBytes.toDouble).lastOption.getOrElse(0.0),
        "trigger.walCommit_ms" -> Stats.median(wWin.map(dur(_, "walCommit"))),
        "trigger.commitOffsets_ms" -> Stats.median(wWin.map(dur(_, "commitOffsets"))),
        "trigger.addBatch_ms" -> Stats.median(wWin.map(dur(_, "addBatch"))),
        "trigger.queryPlanning_ms" -> Stats.median(wWin.map(dur(_, "queryPlanning"))),
        "trigger.rows" -> Stats.median(wWin.map(_.numInputRows.toDouble)),
        "sink.enrich_ms" -> Stats.median(winRuns.flatMap(_.sinks).map { case (s, e) => (e - s) / 1e6 }),
        "enrich.restart_ms" -> Stats.median(winRuns.filter(_.sinks.nonEmpty)
          .map(r => (r.firstSinkNs - r.startNs) / 1e6)),
        "source.backlog_records.p50" -> Stats.median(backlog),
        "source.backlog_records.max" -> (if (backlog.isEmpty) 0.0 else backlog.max),
        "enrich_latency_p50_ms" -> Stats.quantile(enrLat, 0.5),
        "enrich_latency_p90_ms" -> Stats.quantile(enrLat, 0.9),
        "sched.jobs" -> t.jobs.toDouble, "sched.stages" -> t.stages.toDouble,
        "sched.tasks" -> t.tasks.toDouble, "sched.task_cpu_ms" -> t.taskCpuMs,
        "sched.parallelism" -> t.taskRunMs / (wallMs * a.cores),
        "plan.analysis_ms" -> t.analysisMs.toDouble,
        "plan.optimization_ms" -> t.optimizationMs.toDouble,
        "plan.planning_ms" -> t.planningMs.toDouble,
        "shuffle.write_bytes" -> t.shuffleWriteBytes.toDouble,
        "shuffle.read_bytes" -> t.shuffleReadBytes.toDouble,
        "shuffle.fetch_wait_ms" -> t.fetchWaitMs.toDouble,
        "spill.bytes" -> t.spillBytes.toDouble,
        "scan.input_rows" -> t.inputRows.toDouble,
        "scan.input_bytes" -> t.inputBytes.toDouble,
        "jvm.gc_ms" -> gcMs.toDouble, "jvm.heap_peak_mb" -> heapPeak)
    }
    if (a.trace) {
      val triggerSpans = wWin.map { p =>
        val s = epochMs(p.timestamp)
        val e = s + dur(p, "triggerExecution")
        val tr = SparkTrace.batchTrace(p.id.toString, p.batchId)
        val id = spans.add(0L, tr, s"trigger ${p.batchId}", "trigger", s, e,
          Map("rows" -> p.numInputRows, "duration_ms" -> p.durationMs.asScala.toMap))
        p.stateOperators.foreach { so =>
          val busy = so.allUpdatesTimeMs + so.allRemovalsTimeMs + so.commitTimeMs
          spans.add(id, tr, so.operatorName, "state", e - busy, e,
            Map("rows_total" -> so.numRowsTotal, "rows_updated" -> so.numRowsUpdated,
              "commit_ms" -> so.commitTimeMs, "memory_bytes" -> so.memoryUsedBytes))
        }
        tr -> id
      }.toMap
      val wallNs = System.currentTimeMillis() * 1000000L - System.nanoTime()
      def ms(ns: Long) = (ns + wallNs) / 1e6
      val sinkSpans = winRuns.zipWithIndex.flatMap { case (r, i) =>
        val tr = s"enrich-$i"
        val id = spans.add(0L, tr, s"enrich run $i", "enrich", ms(r.startNs), ms(r.endNs))
        spans.add(id, tr, "restart", "restart", ms(r.startNs), ms(r.firstSinkNs))
        r.sinks.zip(r.progress).map { case ((s, e), p) =>
          SparkTrace.batchTrace(p.id.toString, p.batchId) -> spans.add(id, tr, "sink", "sink", ms(s), ms(e))
        }
      }.toMap
      spans.adopt("job", triggerSpans ++ sinkSpans)
    }
    Result(
      correct = problems.isEmpty, attempted = attempted,
      failed = missing.toLong,
      e2e = e2e,
      tracedE2e = if (a.trace) e2e else Map.empty,
      layers = layers ++ Map("gen.late_ms" -> maxLate),
      details = Map(
        "valid" -> valid,
        "sent" -> Map("weather" -> nW, "hotels" -> nH, "prime_weather" -> primeW.size,
          "prime_hotels" -> primeH.size),
        "lead_ms" -> leadMs, "busy_s" -> busyS, "busy_rows" -> busyRows,
        // every data trigger since set-up, the lead too; start in ms after the window start
        "weather_triggers" -> wProg.map(p => Seq(p.batchId, p.numInputRows,
          dur(p, "triggerExecution"), dur(p, "addBatch"), dur(p, "walCommit"),
          dur(p, "commitOffsets"), dur(p, "queryPlanning"),
          p.stateOperators.headOption.map(_.commitTimeMs).getOrElse(0L), epochMs(p.timestamp) - t0Wall)),
        "enrich_runs" -> winRuns.map { r =>
          Seq((r.firstSinkNs - r.startNs) / 1e6, r.sinks.map { case (s, e) => (e - s) / 1e6 }.sum,
            r.rows, (r.endNs - r.startNs) / 1e6)
        },
        "enriched_rows" -> ep.enrichedRows,
        "history_latency_ms" -> Map("p50" -> Stats.quantile(histLat, 0.5),
          "p90" -> Stats.quantile(histLat, 0.9), "n" -> histLat.size),
        "enrich_latency_ms" -> Map("p50" -> Stats.quantile(enrLat, 0.5),
          "p90" -> Stats.quantile(enrLat, 0.9), "n" -> enrLat.size),
        "gen_late_ms" -> Map("p50" -> Stats.median(lateMs), "max" -> maxLate),
        "cells" -> refHistory.size, "problems" -> problems))
  }

  private def weatherList(xs: scala.collection.Seq[Row]): Seq[(String, Double, Double)] =
    xs.map(w => (w.getAs[String]("date"), w.getAs[Double]("tmp_f"), w.getAs[Double]("tmp_c")))
      .toSeq.sortBy(_._1)

  private def close(x: Double, y: Double) = math.abs(x - y) <= 1e-9 * math.max(1.0, math.abs(y))

  private def same(a: Seq[(String, Double, Double)], b: Seq[(String, Double, Double)]) =
    a.size == b.size && a.zip(b).forall { case ((d1, f1, c1), (d2, f2, c2)) =>
      d1 == d2 && close(f1, f2) && close(c1, c2)
    }
}
