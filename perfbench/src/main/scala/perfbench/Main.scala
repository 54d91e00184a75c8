package perfbench

import scala.collection.mutable.ArrayBuffer
import org.apache.spark.sql.{DataFrame, SparkSession}

/** `data` and `check` are the bench-scale and correctness-scale table
  * directories; `gates` the gate list file.
  */
final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
                      data: String, check: String, gates: String, work: String, out: String)

object Args {
  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toDouble,
      m.get("trace").contains("1"), need("data"), need("check"), need("gates"), need("work"),
      need("out"))
  }
}

/** What one run hands back to run.py, besides the recorder's ops and
  * spans. Workloads fill it in as they go.
  */
final class RunResult {
  val buildS = ArrayBuffer.empty[Double]
  var warmS = 0.0
  var genS = 0.0
  var refS = 0.0
  var checkS = 0.0
  /** Measured windows: (start ms, length ms, traced). A traced run
    * measures the same ops untraced, traced and untraced again, so the
    * difference is the tracing overhead with the warm-up trend cancelled.
    */
  val windows = ArrayBuffer.empty[(Double, Double, Boolean)]
  val inputs = ArrayBuffer.empty[Map[String, Any]]
  val checks = ArrayBuffer.empty[Map[String, Any]]
  var facts = Map.empty[String, Any]

  def check(name: String, ok: Boolean, detail: String = ""): Unit =
    checks += Map("name" -> name, "ok" -> ok, "detail" -> detail)

  def timed[T](f: => T): (T, Double) = {
    val t0 = Clock.nowMs
    val r = f
    (r, (Clock.nowMs - t0) / 1000.0)
  }

  /** Progress line in the run's log, with seconds since JVM start. */
  def phase(name: String): Unit = println(f"[perfbench] ${(System.currentTimeMillis() -
    java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime) / 1000.0}%8.2f s $name")
}

object Main {

  /** Rows, bytes, file count and a content digest of one generated
    * input, so two runs can show their inputs were identical. The digest
    * hashes the sorted per-file SHA-256s, so file names do not enter it.
    */
  def describe(spark: SparkSession, name: String, path: String): Map[String, Any] = {
    val sizes = Disk.parquetSizes(path)
    val fileHashes = sizes.keys.toSeq.map { f =>
      val md = java.security.MessageDigest.getInstance("SHA-256")
      md.digest(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(f)))
        .map("%02x".format(_)).mkString
    }.sorted
    Map("name" -> name, "rows" -> spark.read.parquet(path).count(),
      "bytes" -> sizes.values.sum, "files" -> sizes.size, "digest" -> digest(fileHashes.mkString))
  }

  /** First 16 hex digits of the SHA-256 of `text`. */
  def digest(text: String): String =
    java.security.MessageDigest.getInstance("SHA-256").digest(text.getBytes("UTF-8"))
      .take(8).map("%02x".format(_)).mkString

  def session(): SparkSession = {
    val cores = Runtime.getRuntime.availableProcessors.toString
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      .config("spark.sql.streaming.numRecentProgressUpdates", "2000")
      // room for every generated class the workloads reuse: at Spark's
      // default of 100 the gates' classes did not fit, and the LRU cache
      // recompiled them at a rate set by the seeded query order (one
      // order ran 40% slower than another on every run)
      .config("spark.sql.codegen.cache.maxEntries", "2000")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  def main(argv: Array[String]): Unit = {
    val a = Args.parse(argv)
    val hostBefore = Host.state
    val spark = session()
    val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val sparkStartS = (System.currentTimeMillis() - jvmStart) / 1000.0
    val rec = new Recorder(a.trace, spark.sparkContext)
    // a traced run brackets its traced window with untraced ones
    val passes = if (a.trace) Seq(false, true, false) else Seq(false)
    val res = new RunResult
    new java.io.File(a.work).mkdirs()
    a.workload match {
      case "lookup" => Lookup.run(spark, a, rec, res, passes)
      case "ingest" => Ingest.run(spark, a, rec, res, passes, mixed = false)
      case "mixed" => Ingest.run(spark, a, rec, res, passes, mixed = true)
      case "gates" => Gates.run(spark, a, rec, res, passes)
      case w => throw new IllegalArgumentException(s"unknown workload: $w")
    }
    rec.drain()
    val body = Map(
      "workload" -> a.workload, "seed" -> a.seed, "traced" -> a.trace,
      "cores" -> Runtime.getRuntime.availableProcessors,
      "spark_start_s" -> sparkStartS, "build_s" -> res.buildS.toSeq,
      "warm_s" -> res.warmS,
      "gen_s" -> res.genS, "ref_s" -> res.refS, "check_s" -> res.checkS,
      "windows" -> res.windows.map { case (t0, ms, tr) =>
        Map("t0" -> t0, "ms" -> ms, "traced" -> tr) }, "inputs" -> res.inputs.toSeq,
      "checks" -> res.checks.toSeq, "facts" -> res.facts,
      "peak_rss_kb" -> Host.peakRssKb,
      "host" -> Map("before" -> hostBefore, "after" -> Host.state))
    val json = Json.value(body).dropRight(1) +
      s""","ops":${rec.opsJson},"trace":${if (a.trace) rec.traceJson else "null"}}"""
    java.nio.file.Files.write(java.nio.file.Paths.get(a.out),
      json.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    spark.stop()
  }

  /** One measured window, with tracing on or off: whole rounds of work,
    * a further round only when the last one suggests it ends inside
    * `seconds`, so a window never stops part-way into a round of unequal
    * ops. `round` returns false when no work is left.
    */
  def window(res: RunResult, rec: Recorder, traced: Boolean, seconds: Double)
            (round: => Boolean): Unit = {
    rec.tracing = traced
    val t0 = Clock.nowMs
    var last = 0.0
    var more = true
    while (more && (last == 0.0 || Clock.nowMs - t0 + last <= seconds * 1000)) {
      val r0 = Clock.nowMs
      more = round
      last = Clock.nowMs - r0
    }
    res.windows += ((t0, Clock.nowMs - t0, traced))
    rec.tracing = false
  }

  def keyRange(lo: Long, hi: Long, col: String = "l_orderkey"): String =
    s"$col >= $lo AND $col < $hi"

  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()
}
