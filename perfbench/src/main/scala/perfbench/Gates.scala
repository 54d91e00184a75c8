package perfbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.TimestampType
import graft.core.{CanonHash, Tables}
import graft.streaming.StreamTelemetry

/** Oracle queries of the `queries` layer at the correctness scale: one
  * pass that checks each query's hash, then passes that write each query
  * to the `noop` sink. The only workload that reaches the `core.Tables`
  * memos, the streaming micro-batch lanes and the graph round loops.
  */
object Gates {

  // same cache bound graft.Bench applies between queries
  val CacheBudgetBytes = 1536L << 20

  /** The gate list: query name and its canonical hash at sf0.01. */
  def load(path: String): Seq[(String, String)] =
    scala.io.Source.fromFile(path, "UTF-8").getLines().map(_.trim).filter(_.nonEmpty)
      .map { l => val Array(q, h) = l.split("\t"); q -> h }.toSeq

  def run(spark: SparkSession, a: Args, rec: Recorder, res: RunResult, passes: Seq[Boolean]): Unit = {
    val gates = load(a.gates)
    val hashes = gates.toMap
    val queries = graft.SparkEntry.queries
    val order = new scala.util.Random(a.seed).shuffle(gates.map(_._1))
    res.inputs += Map("name" -> "gate_order", "rows" -> order.size, "bytes" -> 0, "files" -> 0,
      "digest" -> order.map(_.takeWhile(_ != '_')).mkString(","))

    // set-up: one pass that checks each query's canonical hash at the
    // correctness scale, taken through the same parquet round trip as
    // graft.Verify; it also fills the Tables memos and warms codegen and
    // the JIT for the measured passes, which run at the same scale
    res.buildS += res.timed(order.foreach { q =>
      val out = s"${a.work}/hash/$q"
      try {
        val df = queries(q)(spark, a.check)
        val norm = df.schema.fields.collect { case f if f.dataType == TimestampType => f.name }
          .foldLeft(df)((d, c) => d.withColumn(c, col(c).cast("timestamp_ntz")))
        norm.coalesce(1).write.mode("overwrite").parquet(out)
        val got = CanonHash.hashOfLines(CanonHash.lines(spark.read.parquet(out)))
        res.check(s"hash.$q", got == hashes(q), got)
      } catch {
        case e: Throwable => res.check(s"hash.$q", ok = false, String.valueOf(e.getMessage))
      }
    })._2
    StreamTelemetry.harvest() // drop the set-up's lanes
    res.phase("set up")

    // a round is one pass over the seeded order
    passes.foreach { traced =>
      Main.window(res, rec, traced, a.seconds) {
        order.foreach { q =>
          // collect between queries, untimed, so one query's garbage is
          // not paid by the next one in the seeded order
          System.gc()
          val r = rec.op(q, "query") {
            rec.span(s"gates.$q", "queries")(Main.noop(queries(q)(spark, a.check)))
            Map.empty[String, Any]
          }
          // drained after every query, so each holds only its own lanes
          val lanes = StreamTelemetry.harvest().map { case (tag, st) => tag -> st.lanes.toMap }
          if (rec.tracing) {
            val cachedMb = spark.sparkContext.getRDDStorageInfo
              .map(i => i.memSize + i.diskSize).sum / 1048576.0
            rec.ops(r.id) = r.copy(extra = r.extra ++ Map("cached_mb" -> cachedMb, "stream" -> lanes))
          }
          Tables.trimStorage(spark, CacheBudgetBytes)
        }
        true
      }
    }
  }
}
