package perfbench

import org.apache.spark.sql.SparkSession

final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean,
    cores: Int, out: String, data: String, stream: String,
    expected: String, failFace: Option[String])

/** What a workload reports: end-to-end metrics from untraced work, the same
  * metrics from traced work (for the tracing overhead), per-layer metrics
  * from traced work, and free-form details. */
final case class Result(correct: Boolean, attempted: Long, failed: Long,
    e2e: Map[String, Double], tracedE2e: Map[String, Double],
    layers: Map[String, Double], details: Map[String, Any])

/** The benchmark JVM. Started by `run.py`, which generates the inputs
  * and turns the `PERFBENCH_RESULT` line printed here into the final
  * report. It calls the program only through `graft.SparkEntry.queries`,
  * `graft.streaming.WeatherStreams` and `graft.operators.WeatherOps`. */
object Main {
  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val spark = SparkSession.builder()
      .master(s"local[${a.cores}]")
      .appName(s"perfbench-${a.workload}")
      .config("spark.sql.shuffle.partitions", a.cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"${a.out}/local")
      .config("spark.sql.warehouse.dir", s"${a.out}/warehouse")
      .config("spark.sql.streaming.numRecentProgressUpdates", "1000000")
      .withExtensions(new graft.GraftExtensions)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val spans = new Spans
    val result =
      try {
        if (a.workload == Stream.name) Stream.run(spark, a, spans)
        else {
          val expected = loadExpected(a.expected)
          Batch.run(spark, a, expected, spans)
        }
      } finally spark.stop()
    if (a.trace) spans.write(java.nio.file.Paths.get(a.out, "spans.jsonl"))
    println("PERFBENCH_RESULT " + Json.write(Map(
      "correct" -> result.correct, "attempted" -> result.attempted,
      "failed" -> result.failed, "e2e" -> result.e2e,
      "traced_e2e" -> result.tracedE2e, "layers" -> result.layers,
      "spans" -> spans.size,
      "env" -> Map("spark" -> org.apache.spark.SPARK_VERSION,
        "jdk" -> System.getProperty("java.runtime.version"),
        "cores" -> a.cores),
      "details" -> result.details)))
  }

  /** `expected.json`: {"face": {"rows": n, "hash": "..."}}. */
  private def loadExpected(path: String): Map[String, Batch.Expected] = {
    import scala.jdk.CollectionConverters._
    val node = new com.fasterxml.jackson.databind.ObjectMapper().readTree(new java.io.File(path))
    node.properties().asScala.map { e =>
      e.getKey -> Batch.Expected(e.getValue.get("rows").asLong, e.getValue.get("hash").asText)
    }.toMap
  }

  private def parse(argv: Array[String]): Args = {
    val kv = argv.grouped(2).toSeq.map { case Array(k, v) => k.stripPrefix("--") -> v }
    def one(k: String) = kv.find(_._1 == k).map(_._2)
      .getOrElse(sys.error(s"missing --$k"))
    Args(
      workload = one("workload"), seed = one("seed").toLong,
      seconds = one("seconds").toInt, trace = one("trace") == "1",
      cores = one("cores").toInt, out = one("out"),
      data = kv.find(_._1 == "data").map(_._2).getOrElse(""),
      stream = kv.find(_._1 == "stream").map(_._2).getOrElse(""),
      expected = kv.find(_._1 == "expected").map(_._2).getOrElse(""),
      failFace = kv.find(_._1 == "fail-face").map(_._2))
  }
}
