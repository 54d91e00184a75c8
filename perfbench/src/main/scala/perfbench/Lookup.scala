package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.catalog.Catalog
import graft.sources.{FsUtil, ParquetDataset, SortKey, WriteConfig}

/** Read-only workload: seeded lookups against a key-sorted lineitem
  * dataset of a few hundred small files with a sidecar, and an orders
  * dataset hive-partitioned by year, both registered in a catalog.
  * Listing, the sidecar read, pruning jobs and Catalyst planning carry
  * the cost; nothing is written in the measured window.
  */
object Lookup {

  /** One lookup: the predicate the dataset sees and the same predicate
    * over the raw source table, which gives the expected answer.
    */
  final case class LOp(kind: String, pred: String, rawPred: String)

  // ~2000 rows per file gives ~300 files at sf0.1: the small-file
  // layout whose listing and pruning cost the workload exists to show
  val LineitemRowsPerFile = 2000L
  val OrdersRowsPerFile = 4000L
  val PoolSize = 64
  // each build writes ~300 files; two keep the median meaningful
  val SetupReps = 2
  val Kinds = Seq("range_scan", "orders_scan", "nonprunable", "count", "time_range",
    "catalog_join")

  def genOps(seed: Long, maxKey: Long, years: Seq[Int]): Seq[LOp] = {
    val rnd = new scala.util.Random(seed)
    def range(widths: Seq[Long]): (Long, Long) = {
      val w = widths(rnd.nextInt(widths.size))
      val lo = (rnd.nextDouble() * (maxKey - w)).toLong
      (lo, lo + w)
    }
    Seq.fill(PoolSize) {
      rnd.nextDouble() match {
        case x if x < 0.35 =>
          val (lo, hi) = range(Seq(25L, 100L, 400L))
          val p = Main.keyRange(lo, hi)
          LOp("range_scan", p, p)
        case x if x < 0.50 =>
          val y = years(rnd.nextInt(years.size))
          val (lo, hi) = range(Seq(5000L, 20000L))
          val k = Main.keyRange(lo, hi, "o_orderkey")
          LOp("orders_scan", s"year = $y AND $k", s"year(o_orderdate) = $y AND $k")
        case x if x < 0.65 =>
          val f = Seq("A", "N", "R")(rnd.nextInt(3))
          val s = Seq("O", "F")(rnd.nextInt(2))
          val p = s"l_returnflag != '$f' AND l_linestatus LIKE '$s%'"
          LOp("nonprunable", p, p)
        case x if x < 0.75 => LOp("count", "", "")
        case x if x < 0.85 => LOp("time_range", "", "")
        case _ =>
          val (lo, hi) = range(Seq(50L, 200L))
          LOp("catalog_join", Main.keyRange(lo, hi, "l.l_orderkey"), Main.keyRange(lo, hi))
      }
    }
  }

  def joinSql(pred: String): String =
    "SELECT count(*) AS n FROM bench.lineitem l JOIN bench.orders o " +
      s"ON l.l_orderkey = o.o_orderkey WHERE $pred"

  def run(spark: SparkSession, a: Args, rec: Recorder, res: RunResult, passes: Seq[Boolean]): Unit = {
    val liSrc = s"${a.data}/lineitem.parquet"
    val ordSrc = s"${a.data}/orders.parquet"
    def li0 = spark.read.parquet(liSrc)
    def ord0 = spark.read.parquet(ordSrc)

    // ---- inputs: the source tables and the seeded op list ----------
    val (ops, genS) = res.timed {
      val r = ord0.agg(max("o_orderkey"), min(year(col("o_orderdate"))),
        max(year(col("o_orderdate")))).collect()(0)
      val ops = genOps(a.seed, r.getLong(0) + 1, r.getInt(1) to r.getInt(2))
      res.inputs += Main.describe(spark, "lineitem", liSrc)
      res.inputs += Main.describe(spark, "orders", ordSrc)
      val text = ops.map(o => s"${o.kind}|${o.pred}").mkString("\n")
      res.inputs += Map("name" -> "op_pool", "rows" -> ops.size, "bytes" -> text.length,
        "files" -> 0, "digest" -> Main.digest(text))
      ops
    }
    res.genS = genS
    res.phase("inputs generated")

    // ---- expected answers over the raw tables ----------------------
    val (expected, refS) = res.timed {
      def counts(df: DataFrame, preds: Seq[String]): Map[String, Long] =
        if (preds.isEmpty) Map.empty
        else {
          val r = df.agg(count(lit(1)), preds.map(p => sum(when(expr(p), 1L).otherwise(0L))): _*)
            .collect()(0)
          preds.zipWithIndex.map { case (p, i) => p -> r.getLong(i + 1) }.toMap
        }
      val liPreds = ops.filter(o => o.kind == "range_scan" || o.kind == "nonprunable")
        .map(_.rawPred).distinct
      val ordPreds = ops.filter(_.kind == "orders_scan").map(_.rawPred).distinct
      val joinPreds = ops.filter(_.kind == "catalog_join").map(_.rawPred).distinct
      val joined = li0.join(ord0, col("l_orderkey") === col("o_orderkey"))
      val tr = li0.agg(count(lit(1)),
        min(unix_micros(col("l_shipdate").cast("timestamp"))),
        max(unix_micros(col("l_shipdate").cast("timestamp")))).collect()(0)
      Map("li" -> counts(li0, liPreds), "ord" -> counts(ord0, ordPreds),
        "join" -> counts(joined, joinPreds),
        "count" -> Map("" -> tr.getLong(0)),
        "time_range" -> Map("lo" -> tr.getLong(1), "hi" -> tr.getLong(2)))
    }
    res.refS = refS
    res.phase("references computed")

    // ---- set-up through the library, repeated; the last one is kept
    def build(dir: String): (ParquetDataset, ParquetDataset, Catalog) = {
      Disk.deleteRecursively(dir)
      val li = new ParquetDataset(spark, s"$dir/lineitem")
      li.write(li0, WriteConfig(mode = "overwrite", sortBy = Seq(SortKey("l_orderkey")),
        maxRowsPerFile = LineitemRowsPerFile))
      val od = new ParquetDataset(spark, s"$dir/orders")
      od.write(ord0, WriteConfig(mode = "overwrite", sortBy = Seq(SortKey("o_orderkey")),
        datepartsFrom = Some("o_orderdate"), dateparts = Seq("year"),
        partitionBy = Seq("year"), maxRowsPerFile = OrdersRowsPerFile))
      val cat = new Catalog(spark, s"$dir/catalog.yaml")
      cat.createTable("bench", "lineitem", li.path)
      cat.createTable("bench", "orders", od.path)
      (li, od, cat)
    }
    var built: (ParquetDataset, ParquetDataset, Catalog) = null
    (0 until SetupReps).foreach { i =>
      val ((li, od, cat), s) = res.timed(build(s"${a.work}/build$i"))
      if (built != null) Disk.deleteRecursively(s"${a.work}/build${i - 1}")
      built = (li, od, cat)
      res.buildS += s
    }
    val (li, od, cat) = built
    res.phase("datasets built")
    // warm-up: one op of each kind, untimed and unchecked
    res.warmS = res.timed {
      Kinds.flatMap(k => ops.find(_.kind == k)).foreach(o => exec(o, li, od, cat, rec))
    }._2
    val liFiles = FsUtil.listParquet(li.path).size
    val odFiles = FsUtil.listParquet(od.path).size
    res.facts = Map("lineitem_files" -> liFiles, "orders_files" -> odFiles)

    // ---- measured window: a closed loop over the seeded pool -------
    passes.foreach { traced =>
      var i = 0
      Main.window(res, rec, traced, a.seconds) {
        val o = ops(i % ops.size)
        i += 1
        var frame: DataFrame = null
        val r = rec.op(o.kind, "read") {
          val (value, f) = exec(o, li, od, cat, rec)
          frame = f
          val want: Any = o.kind match {
            case "range_scan" | "nonprunable" => expected("li")(o.rawPred)
            case "orders_scan" => expected("ord")(o.rawPred)
            case "catalog_join" => expected("join")(o.rawPred)
            case "count" => expected("count")("")
            case "time_range" =>
              Some((expected("time_range")("lo"), expected("time_range")("hi")))
          }
          Map("value" -> value.toString, "check_failed" -> (value != want))
        }
        // traced runs only: how much of the kept file set was needed
        if (rec.tracing && r.ok && frame != null) {
          val kept = frame.inputFiles.length
          val useful = frame.filter(o.pred).select(input_file_name()).distinct().count()
          val listed = if (o.kind == "orders_scan") odFiles else liFiles
          rec.ops(r.id) = r.copy(extra = r.extra ++ Map("listed" -> listed, "kept" -> kept,
            "useful" -> useful))
        }
        true
      }
    }
  }

  /** Pruning outcome of one scan, measured after the op: files listed,
    * files the scan kept, and kept files holding a matching row.
    */
  def pruning(frame: DataFrame, pred: String, listed: Int): Map[String, Any] =
    Map("listed" -> listed, "kept" -> frame.inputFiles.length,
      "useful" -> frame.filter(pred).select(input_file_name()).distinct().count())

  /** One lookup through the public API: the eager call, then the
    * action. Returns the answer and, for scans, the scanned frame.
    */
  def exec(o: LOp, li: ParquetDataset, od: ParquetDataset, cat: Catalog,
           rec: Recorder): (Any, DataFrame) = o.kind match {
    case "range_scan" | "nonprunable" =>
      val df = rec.span("ParquetDataset.scan", "sources")(li.scan(o.pred))
      (rec.span("scan.exec", "spark")(df.filter(o.pred).count()), df)
    case "orders_scan" =>
      val df = rec.span("ParquetDataset.scan", "sources")(od.scan(o.pred))
      (rec.span("scan.exec", "spark")(df.filter(o.pred).count()), df)
    case "count" => (rec.span("ParquetDataset.count", "sources")(li.count()), null)
    case "time_range" =>
      (rec.span("ParquetDataset.timeRange", "sources")(li.timeRange("l_shipdate")), null)
    case "catalog_join" =>
      val df = rec.span("Catalog.sql", "catalog")(cat.sql(joinSql(o.pred)))
      (rec.span("Catalog.sql.exec", "spark")(df.collect()(0).getLong(0)), null)
  }
}
