package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The catalog workloads: one pass runs each face of the set through
  * `SparkEntry.queries` and writes its full result to the `noop` sink, so
  * every output row and column is computed.
  *
  * A run first sets up with one untimed check pass: each face is built and
  * collected, and its row count and content hash are compared with
  * `expected.json`. Building a face stages the fixtures it touches (only
  * those), and the pass compiles the generated code the timed passes reuse.
  * One untimed `noop` pass follows as JIT warm-up; the two together are
  * `setup_s`. It runs once, not repeatedly, because the
  * iterative faces execute their rounds when built, so a repetition costs a
  * full pass. Then timed passes run until `seconds` have elapsed, at least
  * one; `pass_s` adds up each face's median over them.
  * A face that throws, or does not match, is a failed operation. A face
  * that failed its check is left out of the timed passes, and a face that
  * throws in a timed pass is left out of that pass, so a failure adds no
  * time and no rows to any metric.
  *
  * `--fail-face <face>` makes a face throw; `--fail-face <face>:wrong`
  * makes it return only its first row, a wrong result that costs less
  * work. */
object Batch {
  val faces: Map[String, Seq[String]] = Map(
    "batch_kernels" -> Seq("q_mojibake", "q_lang_audit", "q_main_content",
      "q_pii_redact", "q_script_mix", "q_html_markdown", "q_approx_distinct"),
    "batch_iterative" -> Seq("q_pagerank", "q_kcore", "q_ppr",
      "q_cc_components_staged", "q_copurchase", "q_median_exact",
      "q_dedup_minhash", "q_flagship"))

  final case class Expected(rows: Long, hash: String)

  def run(spark: SparkSession, a: Args, expected: Map[String, Expected],
      spans: Spans): Result = {
    val names = faces(a.workload)
    val catalog = graft.SparkEntry.queries
    def build(name: String, dir: String): DataFrame = a.failFace match {
      case Some(f) if f == name => sys.error(s"$name: injected failure")
      case Some(f) if f == s"$name:wrong" => catalog(name)(spark, dir).limit(1)
      case _ => catalog(name)(spark, dir)
    }

    var attempted = 0L
    var failed = 0L
    val problems = mutable.ArrayBuffer.empty[String]
    def attempt[A](what: String)(body: => A): Option[A] = {
      attempted += 1
      try Some(body)
      catch { case e: Throwable =>
        failed += 1
        problems += s"$what: ${e.toString.take(300)}"
        None
      } finally spark.catalog.clearCache()
    }

    val dir = a.data

    // set-up: the check pass
    val t0Check = System.nanoTime()
    val checkedRows = mutable.Map.empty[String, Long] // faces that passed
    val checked = names.map { n =>
      val tFace = System.nanoTime()
      val got = attempt(s"check $n") {
        val df = build(n, dir)
        val rows = df.collect()
        (rows.length.toLong, RowHash.of(rows, df.columns.toSeq))
      }
      val ok = got.exists(g => expected.get(n).contains(Expected(g._1, g._2)))
      if (ok) checkedRows(n) = got.get._1
      if (got.isDefined && !ok) {
        failed += 1
        problems += s"check $n: got rows=${got.get._1} hash=${got.get._2}, " +
          s"expected ${expected.get(n).fold("nothing")(e => s"rows=${e.rows} hash=${e.hash}")}"
      }
      n -> Map("rows" -> got.map(_._1), "hash" -> got.map(_._2), "ok" -> ok,
        "s" -> (System.nanoTime() - tFace) / 1e9)
    }.toMap
    // only the faces that passed their check are warmed up and timed
    val timed = names.filter(checkedRows.contains)
    // one untimed noop pass finishes the JIT warm-up the check pass began
    timed.foreach(n => attempt(s"warm-up $n")(build(n, dir).write.format("noop").mode("overwrite").save()))
    val setup = (System.nanoTime() - t0Check) / 1e9
    System.gc() // set-up garbage is collected here, not in a timed pass

    // timed passes; a traced run alternates untraced and traced passes
    val trace = if (a.trace) Some(new SparkTrace(spark, spans)) else None
    final case class Pass(traced: Boolean, wallS: Double, faceS: Map[String, Double],
        layers: Map[String, Double])
    val passes = mutable.ArrayBuffer.empty[Pass]
    val minPasses = if (a.trace) 2 else 1
    val tStart = System.nanoTime()
    while (timed.nonEmpty &&
      (passes.size < minPasses || (System.nanoTime() - tStart) / 1e9 < a.seconds)) {
      val traced = a.trace && passes.size % 2 == 1
      val passNo = passes.size
      if (traced) { trace.get.attach(); trace.get.swap() }
      val gc0 = Jvm.gcMs
      val cg0 = Jvm.codegenCompiles
      Jvm.resetHeapPeak()
      val passSpan = spans.reserve()
      val passStart = System.currentTimeMillis()
      val faceS = mutable.LinkedHashMap.empty[String, Double]
      timed.foreach { n =>
        val tr = s"$n#$passNo"
        val faceSpan = spans.reserve()
        val sc = spark.sparkContext
        if (traced) {
          sc.setLocalProperty("perfbench.span", faceSpan.toString)
          sc.setLocalProperty("perfbench.trace", tr)
        }
        val fStart = System.currentTimeMillis()
        val t0 = System.nanoTime()
        val ok = attempt(s"pass $passNo $n") {
          build(n, dir).write.format("noop").mode("overwrite").save()
        }.isDefined
        val dt = (System.nanoTime() - t0) / 1e9
        if (ok) faceS(n) = dt
        if (traced) {
          spans.put(Span(faceSpan, passSpan, tr, n, "face", fStart.toDouble,
            System.currentTimeMillis().toDouble, Map("ok" -> ok)))
          sc.setLocalProperty("perfbench.span", null)
          sc.setLocalProperty("perfbench.trace", null)
        }
      }
      val passEnd = System.currentTimeMillis()
      val wall = faceS.values.sum
      val layers = if (!traced) Map.empty[String, Double] else {
        trace.get.detach()
        val t = trace.get.swap()
        spans.put(Span(passSpan, 0L, s"pass-$passNo", s"pass $passNo", "pass",
          passStart.toDouble, passEnd.toDouble, Map("faces" -> faceS.size)))
        val wallMs = (passEnd - passStart).toDouble
        Map(
          "sched.jobs" -> t.jobs.toDouble, "sched.stages" -> t.stages.toDouble,
          "sched.tasks" -> t.tasks.toDouble,
          "sched.task_cpu_ms" -> t.taskCpuMs,
          "sched.parallelism" -> t.taskRunMs / (wallMs * a.cores),
          "sched.driver_gap_ms" -> (wallMs - t.jobUnionMs(passStart, passEnd)),
          "plan.analysis_ms" -> t.analysisMs.toDouble,
          "plan.optimization_ms" -> t.optimizationMs.toDouble,
          "plan.planning_ms" -> t.planningMs.toDouble,
          "codegen.compiles" -> (Jvm.codegenCompiles - cg0).toDouble,
          "shuffle.write_bytes" -> t.shuffleWriteBytes.toDouble,
          "shuffle.read_bytes" -> t.shuffleReadBytes.toDouble,
          "shuffle.fetch_wait_ms" -> t.fetchWaitMs.toDouble,
          "spill.bytes" -> t.spillBytes.toDouble,
          "scan.input_rows" -> t.inputRows.toDouble,
          "scan.input_bytes" -> t.inputBytes.toDouble,
          "jvm.gc_ms" -> (Jvm.gcMs - gc0).toDouble,
          "jvm.heap_peak_mb" -> Jvm.heapPeakMb)
      }
      passes += Pass(traced, wall, faceS.toMap, layers)
    }

    // every face of a pass is due when the pass starts; its latency is the
    // time until its result is complete, so it includes the faces before it.
    // The latency quantiles are taken in each pass and their median over the
    // passes is reported, and pass_s adds up each face's median over the
    // passes, so one slow pass does not move them; a face that never
    // succeeded in them adds neither time nor rows
    def e2e(ps: Seq[Pass]): Map[String, Double] = {
      val medians = timed.flatMap(n => ps.flatMap(_.faceS.get(n)) match {
        case Seq() => None
        case ts => Some(n -> Stats.median(ts))
      })
      val passS = medians.map(_._2).sum
      val lat = ps.map(p => timed.flatMap(p.faceS.get).scanLeft(0.0)(_ + _).tail.map(_ * 1000))
        .filter(_.nonEmpty)
      def latency(q: Double) = Stats.median(lat.map(Stats.quantile(_, q)))
      Map("pass_s" -> passS, "records_per_s" -> medians.map(m => checkedRows(m._1)).sum / passS,
        "latency_p50_ms" -> latency(0.5), "latency_p90_ms" -> latency(0.9))
    }
    val plain = passes.filterNot(_.traced).toSeq
    val traced = passes.filter(_.traced).toSeq
    val layers: Map[String, Double] =
      if (traced.isEmpty) Map.empty
      else {
        val keys = traced.head.layers.keys
        keys.map(k => k -> Stats.median(traced.map(_.layers(k)))).toMap ++
          timed.map(n => s"face.$n.s" -> Stats.median(traced.flatMap(_.faceS.get(n))))
      }
    Result(
      correct = checked.values.forall(_("ok") == true) && failed == 0,
      attempted = attempted, failed = failed,
      e2e = e2e(plain) + ("setup_s" -> setup),
      tracedE2e = if (traced.isEmpty) Map.empty else e2e(traced) + ("setup_s" -> setup),
      layers = layers,
      details = Map(
        "check" -> checked,
        "output_rows" -> checkedRows.values.sum,
        "not_timed" -> names.filterNot(timed.contains),
        "passes" -> passes.map(p => Map("traced" -> p.traced, "wall_s" -> p.wallS,
          "faces" -> p.faceS)),
        "problems" -> problems.take(20)))
  }
}
