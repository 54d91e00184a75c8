package perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.catalog.Catalog
import graft.operators.{Delete, Maintenance, Merge}
import graft.sources.{FsUtil, ParquetDataset, SortKey, StatsSidecar, WriteConfig}

/** Write workloads over one managed lineitem dataset, hive-partitioned
  * by `l_returnflag` (a low-cardinality category unrelated to the key)
  * with the composite key (l_orderkey, l_linenumber).
  *
  * `ingest` applies a seeded batch stream (appends, upserts,
  * insert-merges, key-range deletes, periodic compaction) and reads
  * nothing. `mixed` applies the same stream and follows every write
  * with four reads: two pruned scans of keys a recent batch wrote, a
  * pruned scan and a catalog join over random keys.
  */
object Ingest {

  /** One step of the stream `gen.py` wrote: its kind, its batch's rows
    * and bytes, the key span of the new orders it brings, the delete's
    * predicate, and the packed keys present after it is applied.
    */
  final case class Batch(idx: Int, kind: String, rows: Long, bytes: Long, span: (Long, Long),
                         deletePred: String, present: Array[Long])

  val Keys = Seq("l_orderkey", "l_linenumber")
  val Part = "l_returnflag"
  val BaseRowsPerFile = 2500L
  val SetupReps = 3
  // compaction after each cycle of the stream (gen.py CYCLE: append,
  // upsert, insert-merge, delete), so file count and sidecar size rise
  // and fall in a saw-tooth
  val CompactEvery = 4
  // cycles in one round of a window: two give 10 writes (40 reads in
  // `mixed`) per round, so no op kind rests on a single sample. A traced
  // run measures three windows and takes one cycle each, which keeps it
  // inside the time a run may take
  val CyclesPerRound = 2
  // `mixed` reads after each write, half of them on keys a recent batch
  // wrote: two pruned scans of such keys, a pruned scan and a catalog
  // join over random keys
  val ReadsPerWrite = Seq("lookup_recent", "lookup_random", "lookup_recent", "catalog_join")
  // bits per order key in a packed (order key, line number) key, as gen.py
  val LineBits = 6

  def packed(orderKey: Long, line: Int): Long = (orderKey << LineBits) + line

  def readStream(path: String): Seq[Batch] =
    scala.io.Source.fromFile(path, "UTF-8").getLines().map { l =>
      val f = l.split("\t", -1)
      Batch(f(0).toInt, f(1), f(2).toLong, f(3).toLong, (f(4).toLong, f(5).toLong), f(6),
        if (f(7).isEmpty) Array.empty else f(7).split(",").map(_.toLong))
    }.toSeq

  def run(spark: SparkSession, a: Args, rec: Recorder, res: RunResult, passes: Seq[Boolean],
          mixed: Boolean): Unit = {
    import spark.implicits._
    // inputs written by gen.py before the JVM started
    val inDir = s"${a.work}/inputs"
    val baseDir = s"$inDir/base"
    val batchDir = s"$inDir/batches"
    val ordersSrc = s"${a.data}/orders.parquet"
    val batches = readStream(s"$inDir/stream.tsv")
    def batchDf(i: Int): DataFrame = spark.read.parquet(s"$batchDir/batch=$i")

    def apply(ds: ParquetDataset, b: Batch): Map[String, Any] = b.kind match {
      case "append" =>
        rec.span("ParquetDataset.write", "sources")(
          ds.write(batchDf(b.idx), WriteConfig(mode = "append", partitionBy = Seq(Part))))
        Map("applied" -> b.rows)
      case "upsert" | "insert" =>
        val r = rec.span("Merge.apply", "operators")(Merge(ds, batchDf(b.idx), Keys, b.kind))
        Map("applied" -> r.sourceCount, "updated" -> r.updated, "inserted" -> r.inserted,
          "rewritten" -> r.rewrittenFiles)
      case "delete" =>
        val r = rec.span("Delete.where", "operators")(Delete.where(ds, b.deletePred))
        Map("applied" -> r.deleted, "deleted" -> r.deleted, "rewritten" -> r.rewrittenFiles)
    }
    def compact(ds: ParquetDataset): Map[String, Any] = {
      val plan = rec.span("Maintenance.compact", "operators")(
        Maintenance.compactPartitions(ds, maxRowsPerFile = 1000000L))
      Map("applied" -> 0L, "compacted" -> plan.plannedFiles)
    }
    def catalogYaml(ds: ParquetDataset): String = ds.path + ".catalog.yaml"

    // ---- set-up through the library, repeated ----------------------
    def build(dir: String): ParquetDataset = {
      Disk.deleteRecursively(dir)
      val ds = new ParquetDataset(spark, s"$dir/lineitem")
      ds.write(spark.read.parquet(baseDir), WriteConfig(mode = "overwrite",
        partitionBy = Seq(Part), sortBy = Seq(SortKey("l_orderkey")),
        maxRowsPerFile = BaseRowsPerFile))
      if (mixed) {
        val cat = new Catalog(spark, catalogYaml(ds))
        cat.createTable("bench", "lineitem", ds.path)
        cat.createTable("bench", "orders", ordersSrc)
      }
      ds
    }
    // each window of a traced run gets its own freshly built dataset,
    // so all start from the same state
    val kept = scala.collection.mutable.Queue.empty[(ParquetDataset, String)]
    (0 until SetupReps).foreach { i =>
      val dir = s"${a.work}/build$i"
      val (d, s) = res.timed(build(dir))
      kept.enqueue((d, dir))
      if (kept.size > passes.size) Disk.deleteRecursively(kept.dequeue()._2)
      res.buildS += s
    }
    res.phase("datasets built")
    // warm-up: every op kind once on a small dataset made of the
    // stream's first append, untimed
    res.warmS = res.timed {
      val warm = new ParquetDataset(spark, s"${a.work}/warm/lineitem")
      val first = batches.head
      warm.write(batchDf(first.idx), WriteConfig(mode = "overwrite", partitionBy = Seq(Part)))
      Seq("upsert", "insert", "delete").flatMap(k => batches.find(_.kind == k))
        .foreach(b => apply(warm, b))
      compact(warm)
      if (mixed) {
        val pred = Main.keyRange(first.span._1, first.span._2)
        warm.scan(pred).filter(pred).count()
        val cat = new Catalog(spark, catalogYaml(warm))
        cat.createTable("bench", "lineitem", warm.path)
        cat.createTable("bench", "orders", ordersSrc)
        cat.sql(Lookup.joinSql(Main.keyRange(first.span._1, first.span._2, "l.l_orderkey")))
          .collect()
      }
      Disk.deleteRecursively(s"${a.work}/warm")
    }._2
    res.phase("warmed up")
    val basePairs = spark.read.parquet(baseDir).select("l_orderkey", "l_linenumber")
      .as[(Long, Int)].collect()
    val maxKey = basePairs.map(_._1).max + 1
    val orderKeys = new java.util.BitSet()
    if (mixed) spark.read.parquet(ordersSrc).select("o_orderkey").as[Long].collect()
      .foreach(k => orderKeys.set(k.toInt))
    def fileRows(ds: ParquetDataset): Map[String, Long] =
      ds.stats.map(_.select("file_path", "row_group", "rg_num_rows").distinct()
        .groupBy("file_path").agg(sum("rg_num_rows")).as[(String, Long)].collect().toMap)
        .getOrElse(Map.empty)

    /** One measured window over `ds`; returns the batches it applied. */
    def measure(ds: ParquetDataset, traced: Boolean): Seq[Batch] = {
      // key-presence model for lookups (order key x line number)
      val present = new java.util.BitSet()
      basePairs.foreach { case (k, l) => present.set(packed(k, l).toInt) }
      def modelApply(b: Batch): Unit = b.kind match {
        case "delete" =>
          val Array(lo, hi) = "\\d+".r.findAllIn(b.deletePred).map(_.toLong).toArray
          present.clear(packed(lo, 0).toInt, packed(hi, 0).toInt)
        case _ => b.present.foreach(k => present.set(k.toInt))
      }
      def expectedCount(lo: Long, hi: Long): Long =
        present.get(packed(lo, 0).toInt, packed(hi, 0).toInt).cardinality().toLong
      def listing(): Map[String, Long] = rec.span("ParquetDataset.files", "sources") {
        FsUtil.listParquet(ds.path)
          .map(f => f -> java.nio.file.Files.size(java.nio.file.Paths.get(f))).toMap ++
          Disk.parquetSizes(StatsSidecar.sidecarPath(ds.path))
      }
      val rnd = new scala.util.Random(a.seed ^ 0x5DEECE66DL)
      val applied = scala.collection.mutable.ArrayBuffer.empty[Batch]
      var next = 0
      var sinceCompact = 0
      var before = Map.empty[String, Long]
      var createdBytes = 0L
      var stagedBytes = 0L
      rec.tracing = traced
      before = listing()
      def write(): Unit = {
        val compacting = sinceCompact >= CompactEvery
        // a compaction closing the stream's last cycle has no batch
        lazy val b = batches(next)
        val rowsBefore = if (rec.tracing) fileRows(ds) else Map.empty[String, Long]
        val r =
          if (compacting) rec.op("compact", "write")(compact(ds))
          else rec.op(b.kind, "write")(apply(ds, b))
        val after = listing()
        val created = after.filter { case (f, _) => !before.contains(f) }.values.sum
        if (compacting) sinceCompact = 0
        else {
          next += 1 // a failed batch is skipped, never retried
          if (r.ok) {
            stagedBytes += b.bytes
            applied += b
            modelApply(b)
            sinceCompact += 1
          }
        }
        createdBytes += created
        val x = r.extra
        val rewritten = x.getOrElse("rewritten", x.getOrElse("compacted", Nil))
          .asInstanceOf[Seq[String]]
        val acct = Map("files_before" -> before.size, "files_after" -> after.size,
          "created_bytes" -> created,
          "bytes_rewritten" -> rewritten.map(f => before.getOrElse(s"${ds.path}/$f", 0L)).sum,
          "rows_in_rewritten" -> rewritten.map(f => rowsBefore.getOrElse(f, 0L)).sum,
          "files_rewritten" -> rewritten.size)
        rec.ops(r.id) = r.copy(extra = (x - "rewritten" - "compacted") ++ acct)
        before = after
      }
      def read(kind: String): Unit = {
        val written = applied.filter(_.span._2 > 0).takeRight(3)
        val (lo, hi) =
          if (kind == "lookup_recent" && written.nonEmpty) written(rnd.nextInt(written.size)).span
          else { val lo = (rnd.nextDouble() * (maxKey - 200)).toLong; (lo, lo + 200) }
        var frame: DataFrame = null
        val pred = Main.keyRange(lo, hi)
        val r = rec.op(kind, "read") {
          val (n, want) =
            if (kind == "catalog_join") {
              // a fresh catalog registers its views over the current files
              val cat = new Catalog(spark, catalogYaml(ds))
              val df = rec.span("Catalog.sql", "catalog")(
                cat.sql(Lookup.joinSql(Main.keyRange(lo, hi, "l.l_orderkey"))))
              (rec.span("Catalog.sql.exec", "spark")(df.collect()(0).getLong(0)),
                (lo until hi).filter(k => orderKeys.get(k.toInt)).map(k => expectedCount(k, k + 1)).sum)
            } else {
              frame = rec.span("ParquetDataset.scan", "sources")(ds.scan(pred))
              (rec.span("scan.exec", "spark")(frame.filter(pred).count()), expectedCount(lo, hi))
            }
          Map("rows" -> n, "check_failed" -> (n != want))
        }
        if (rec.tracing && r.ok && frame != null)
          rec.ops(r.id) = r.copy(extra = r.extra ++ Lookup.pruning(frame, pred,
            FsUtil.listParquet(ds.path).size))
      }
      // a round is CyclesPerRound cycles of the stream, each with its
      // compaction, every write followed by the reads
      val cycles = if (a.trace) 1 else CyclesPerRound
      Main.window(res, rec, traced, a.seconds) {
        (1 to cycles * (CompactEvery + 1)).foreach { _ =>
          if (sinceCompact >= CompactEvery || next < batches.size) {
            write()
            if (mixed) ReadsPerWrite.foreach(read)
          }
        }
        next < batches.size
      }
      // amplification of the first window, the one end-to-end metrics use
      if (res.windows.size == 1)
        res.facts = Map("created_bytes" -> createdBytes, "staged_bytes" -> stagedBytes,
          "batches_applied" -> applied.size)
      applied.toSeq
    }
    var ds: ParquetDataset = null
    var applied: Seq[Batch] = Nil
    passes.zip(kept.map(_._1)).foreach { case (traced, d) =>
      ds = d
      applied = measure(d, traced)
    }

    res.phase("measured")
    // ---- checks: the dataset equals a plain-DataFrame model ---------
    val (_, checkS) = res.timed {
      val dsHash = graft.core.CanonHash.of(ds.df)
      var model = spark.read.parquet(baseDir)
      def keysOf(df: DataFrame) = df.select(col("l_orderkey").as("__k1"), col("l_linenumber").as("__k2"))
      def sameKey(df: DataFrame): Column =
        df("l_orderkey") <=> col("__k1") && df("l_linenumber") <=> col("__k2")
      applied.zipWithIndex.foreach { case (b, i) =>
        model = b.kind match {
          case "append" => model.unionByName(batchDf(b.idx))
          case "upsert" =>
            val src = batchDf(b.idx)
            model.join(keysOf(src), sameKey(model), "left_anti").unionByName(src)
          case "insert" =>
            val src = batchDf(b.idx)
            model.unionByName(src.join(keysOf(model), sameKey(src), "left_anti"))
          case "delete" => model.filter(!coalesce(expr(b.deletePred), lit(false)))
        }
        if (i % 8 == 7) model = model.localCheckpoint()
      }
      val modelHash = graft.core.CanonHash.of(model)
      res.check("dataset_equals_model", dsHash == modelHash, s"$dsHash vs $modelHash")
      val sidecarFiles = ds.stats.map(_.select("file_path").distinct().as[String].collect().toSet)
        .getOrElse(Set.empty)
      res.check("sidecar_equals_files", sidecarFiles == ds.relFiles.toSet,
        s"${sidecarFiles.size} sidecar vs ${ds.relFiles.size} physical")
      // space: the dataset as it sits on disk against its content
      // written once as a single zstd file
      val once = s"${a.work}/once"
      Disk.deleteRecursively(once)
      ds.df.coalesce(1).write.option("compression", "zstd").parquet(once)
      res.facts = res.facts ++ Map("final_bytes" -> Disk.totalBytes(ds.path),
        "once_bytes" -> Disk.totalBytes(once), "final_files" -> ds.relFiles.size)
    }
    res.checkS = checkS
  }
}
