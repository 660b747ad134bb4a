package cdcbench

import java.nio.file.{Files, Path}
import java.util.concurrent.ConcurrentHashMap
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.streaming.Trigger
import graft.cdc.{CdcSink, TxnLog}

/** `replica`: a streaming replica over rotated binlog files.
  *
  * `readStream.format("binlog")` feeds a `foreachBatch` that composes
  * each change's offset from (file sequence, `log_pos`), as graft's
  * replica loop does, and calls `CdcSink.merge` on a bootstrapped
  * table; after each merge it looks up a key the batch changed. First a
  * backlog of files is drained; then a live tail follows, in which the
  * load generator lands one file at a time on a fixed open-loop
  * schedule below capacity, each published by rename. Updates and
  * deletes hit keys uniformly, so they cross file rotations and bypass
  * the key-range pruning `upsert` exercises. A file's lag runs from its
  * due time to the commit of the batch that holds it.
  */
object Replica extends Workload {
  val name = "replica"

  private final case class Size(base: Int, backlogFiles: Int, backlogTxns: Int,
      liveFiles: Int, liveTxns: Int, rowsPerTxn: Int, intervalS: Double, lookups: Int)

  /** One generated file: its sequence number, what was written, and a
    * key it changes (probed by a lookup once the stream has ended).
    */
  private final case class GenFile(seq: Int, staged: Path, w: BinlogWriter.Written, probe: Int)

  private val Ts = 1700000000L

  /** Nominal length of a round on the reference host. */
  private val RoundS = 30.0

  /** The benchmark's replay: key -> title, updated as files are generated. */
  private def generate(ctx: Ctx, size: Size, staging: Path,
      model: mutable.HashMap[Int, String]): Seq[GenFile] = {
    val r = new scala.util.Random(ctx.args.seed)
    var top = size.base
    val total = size.backlogFiles + size.liveFiles
    (1 to total).map { seq =>
      val nTxns = if (seq <= size.backlogFiles) size.backlogTxns else size.liveTxns
      val txns = Seq.fill(nTxns) {
        val used = mutable.HashSet.empty[Int]
        val cs = Seq.newBuilder[BinlogWriter.Change]
        var i = 0
        while (i < size.rowsPerTxn) {
          val p = r.nextDouble()
          if (p < 0.15) {
            top += 1; used += top
            val t = s"f$seq-$top"; model(top) = t
            cs += BinlogWriter.Insert(top, t); i += 1
          } else {
            val k = 1 + r.nextInt(top)
            if (!used(k) && model.contains(k)) {
              used += k
              if (p < 0.85) {
                val t = s"f$seq-$k"
                cs += BinlogWriter.Update(k, model(k), t); model(k) = t
              } else {
                cs += BinlogWriter.Delete(k, model(k)); model.remove(k)
              }
              i += 1
            }
          }
        }
        // group by kind inside the transaction: one rows event per kind
        // and up to 200 rows, as a server batches a multi-row statement
        BinlogWriter.Txn(cs.result().sortBy {
          case _: BinlogWriter.Insert => 0; case _: BinlogWriter.Update => 1; case _ => 2
        })
      }
      val name = BinlogWriter.fileName(seq)
      val next = if (seq < total) Some(BinlogWriter.fileName(seq + 1)) else None
      val w = BinlogWriter.write(staging.resolve(name), txns, next, Ts + seq)
      GenFile(seq, staging.resolve(name), w, txns.last.changes.last.key)
    }
  }

  def run(ctx: Ctx): Result = {
    import ctx.spark
    val tr = ctx.tracer
    val size =
      if (ctx.args.small) Size(base = 2000, backlogFiles = 2, backlogTxns = 2,
        liveFiles = 3, liveTxns = 1, rowsPerTxn = 200, intervalS = 1.0, lookups = 2)
      else Size(base = 200000, backlogFiles = 4, backlogTxns = 20,
        liveFiles = 6, liveTxns = 20, rowsPerTxn = 500, intervalS = 4.0, lookups = 10)

    // set-up: generate the round's files three times (median), a warm
    // stream over two small files into a small table, then the first
    // round's table
    var staging: Path = null
    var files: Seq[GenFile] = Nil
    var model = mutable.HashMap.empty[Int, String]
    val genS = (1 to 3).map { _ =>
      if (staging != null) Ctx.deleteTree(staging)
      staging = ctx.freshDir("staging")
      model = mutable.HashMap.empty[Int, String] ++= (1 to size.base).map(k => k -> s"v0-$k")
      ctx.timeS { files = generate(ctx, size, staging, model) }._2
    }
    val warmS = ctx.timeS(warm(ctx))._2
    var table = ctx.freshDir("table").resolve("t").toString
    val bootS = ctx.timeS(bootstrap(spark, size.base, table))._2
    val setupS = ctx.sessionS + Stats.median(genS) + warmS + bootS

    ctx.jvmStart()
    val lags, lookups, catchups, scans = mutable.ArrayBuffer.empty[Double]
    val lateness = mutable.ArrayBuffer.empty[Double]
    val t0 = System.nanoTime()
    val rounds = ctx.rounds(RoundS)
    (0 until rounds).foreach { r =>
      if (r > 0) { // a later round streams a copy of the same files
        val again = ctx.freshDir("staging")
        files = files.map(f => f.copy(staged = Files.copy(f.staged, again.resolve(f.staged.getFileName))))
        table = ctx.freshDir("table").resolve("t").toString
        bootstrap(spark, size.base, table)
      }
      val rr = round(ctx, size, files, model, table, first = r == 0)
      lags ++= rr.lags; lookups ++= rr.lookups; catchups += rr.catchupRowsPerS
      scans += rr.scanRowsPerS; lateness ++= rr.lateness
      ctx.attempted += 1 // binlog_rotation
      if (!Rotation.holds(ctx)) ctx.failed += 1
    }
    val measuredS = (System.nanoTime() - t0) / 1e9

    val e2e = Seq(
      ("setup_s", setupS, "s"),
      ("write_rows_per_s", Stats.median(catchups.toSeq), "rows/s"),
      ("commit_p50_s", Stats.median(lags.toSeq), "s"),
      ("scan_rows_per_s", Stats.median(scans.toSeq), "rows/s"),
      ("lookup_p50_ms", Stats.median(lookups.toSeq) * 1000, "ms"))
    val layer = if (tr.on) Layers.collect(ctx) else Nil
    def f(x: Double) = f"$x%.2f"
    val info = Seq(
      "setup_parts_s" -> s"session ${f(ctx.sessionS)}, fixture ${genS.map(f).mkString("/")}, warm ${f(warmS)}, bootstrap ${f(bootS)}",
      "rounds" -> rounds.toString,
      "live_files" -> lags.size.toString,
      "lag_s" -> lags.map(f).mkString(" "),
      "lag_tail" -> Stats.tail(lags.toSeq).fold("n/a (<11 files)") { case (p, v) => f"p$p $v%.3f s" },
      "generator_late_max_s" -> f"${if (lateness.isEmpty) 0.0 else lateness.max}%.3f",
      "binlog_rotation" -> (if (ctx.failed > 0) "fails (Changelog.fromBinlog orders by log_pos across files)" else "holds"),
      "measured_s" -> f"$measuredS%.2f")
    Result(ctx.correct, ctx.attempted, ctx.failed, e2e, layer, info, Layers.selfTimes(tr))
  }

  private final case class RoundResult(lags: Seq[Double], lookups: Seq[Double],
      catchupRowsPerS: Double, scanRowsPerS: Double, lateness: Seq[Double])

  private val imageSchema = StructType(Seq(
    StructField("col_0", LongType), StructField("col_1", StringType)))

  /** Binlog rows → the sink's changelog: offset = file sequence · 1e9 +
    * log_pos, source = the file's name.
    */
  def compose(batch: DataFrame): DataFrame =
    batch.filter(col("op").isNotNull)
      .withColumn("__i", from_json(coalesce(col("after"), col("before")), imageSchema))
      .select(
        col("__i.col_0").as("key"),
        col("op"),
        (regexp_extract(col("file"), "mysql-bin\\.(\\d+)$", 1).cast("long") * 1000000000L +
          col("log_pos")).as("offset"),
        when(col("op") =!= "d", col("__i.col_1")).as("title"),
        substring_index(col("file"), "/", -1).as("source_file"))

  private def bootstrap(spark: SparkSession, n: Int, table: String): Unit =
    CdcSink.writeSnapshotPreClustered(spark.range(1, n + 1, 1, 1).select(
      col("id").as("key"), lit("c").as("op"), lit(0L).as("offset"),
      concat(lit("v0-"), col("id").cast("string")).as("title"),
      lit("bootstrap").as("source_file")), table)

  private def round(ctx: Ctx, size: Size, files: Seq[GenFile],
      model: mutable.HashMap[Int, String], table: String, first: Boolean): RoundResult = {
    import ctx.spark
    val tr = ctx.tracer
    val watch = ctx.freshDir("watch")
    val ckpt = ctx.freshDir("ckpt")
    val bySeq = files.map(f => f.seq -> f).toMap
    val committedAt = new ConcurrentHashMap[Int, java.lang.Long]()
    val lookupS = mutable.ArrayBuffer.empty[Double]
    @volatile var batchError: Throwable = null

    val (backlog, live) = files.partition(_.seq <= size.backlogFiles)
    backlog.foreach(f => BinlogWriter.publish(f.staged, watch))
    val backlogRows = backlog.map(f => f.w.inserts + f.w.updates + f.w.deletes).sum

    val start = System.nanoTime()
    val q = spark.readStream.format("binlog").load(watch.toString)
      .writeStream
      .option("checkpointLocation", ckpt.toString)
      .trigger(Trigger.ProcessingTime(0L))
      .foreachBatch { (batch: DataFrame, _: Long) =>
        try tr.span("stream.batch") {
          val ss = batch.sparkSession
          if (tr.on) tr.span("binlog.scan")(batch.write.format("noop").mode("overwrite").save())
          val before = if (tr.on) tr.span("txnlog.current")(TxnLog.current(ctx.fs, table)) else None
          val changes = compose(batch)
          if (tr.on) Layers.fold(ctx, changes)
          tr.span("sink.merge")(CdcSink.merge(ss, changes, table))
          val now = System.nanoTime()
          val done = CdcSink.committedOffsets(ss, table).keySet
            .collect { case s if s.startsWith("mysql-bin.") => s.stripPrefix("mysql-bin.").toInt }
          val fresh = done.filterNot(s => committedAt.containsKey(s))
          fresh.foreach(s => committedAt.put(s, now))
          if (tr.on) Layers.afterMerge(ctx, table, before,
            fresh.toSeq.map(s => bySeq(s).w).map(w => w.inserts + w.updates + w.deletes).sum)
        } catch { case e: Throwable => batchError = e; throw e }
      }
      .start()
    try {
      def waitFor(seqs: Seq[Int], timeoutS: Double): Unit = {
        val deadline = System.nanoTime() + (timeoutS * 1e9).toLong
        while (!seqs.forall(s => committedAt.containsKey(s)) && batchError == null &&
          q.isActive && System.nanoTime() < deadline) Thread.sleep(2)
        if (batchError != null) throw batchError
        require(seqs.forall(s => committedAt.containsKey(s)),
          s"replica: files ${seqs.filterNot(s => committedAt.containsKey(s))} not committed in ${timeoutS}s")
      }
      waitFor(backlog.map(_.seq), 90)
      val catchupS = (backlog.map(f => committedAt.get(f.seq).longValue).max - start) / 1e9
      ctx.attempted += 1

      // live tail: open loop, file i due at live0 + i · interval
      val live0 = System.nanoTime() + 200L * 1000 * 1000
      val due = mutable.HashMap.empty[Int, Long]
      val late = mutable.ArrayBuffer.empty[Double]
      live.zipWithIndex.foreach { case (f, i) =>
        val d = live0 + (i * size.intervalS * 1e9).toLong
        due(f.seq) = d
        var now = System.nanoTime()
        while (now < d) { Thread.sleep(math.max(0L, (d - now) / 1000000L).min(50L)); now = System.nanoTime() }
        BinlogWriter.publish(f.staged, watch)
        late += (System.nanoTime() - d) / 1e9
      }
      waitFor(live.map(_.seq), 60)
      ctx.attempted += live.size
      val lags = live.map(f => (committedAt.get(f.seq).longValue - due(f.seq)) / 1e9)
      if (tr.on) Layers.progress(ctx, q.recentProgress.toSeq)
      q.stop()

      // the final table must equal the replay exactly
      var rows: Array[org.apache.spark.sql.Row] = null
      val scanRate = Stats.median((1 to 5).map { _ =>
        if (tr.on) Layers.scanFiles(ctx, table)
        val (r, s) = ctx.timeS(tr.span("sink.read")(CdcSink.read(spark, table)
          .select("key", "title").collect()))
        rows = r
        r.length / s
      })
      val got = rows.map(r => r.getLong(0).toInt -> r.getString(1)).toMap
      ctx.check(got == model.toMap, s"replica: table (${got.size} rows) differs from the replay " +
        s"(${model.size} rows) on ${(got.keySet ++ model.keySet).count(k => got.get(k) != model.get(k))} keys")
      ctx.attempted += 1
      // resume point: every file's last composed position
      val offs = CdcSink.committedOffsets(spark, table)
      val bad = files.filterNot(f => offs.get(BinlogWriter.fileName(f.seq))
        .contains(f.seq * 1000000000L + f.w.lastRowsPos))
      ctx.check(bad.isEmpty, s"replica: committed offsets wrong for ${bad.map(_.seq)}: $offs")
      ctx.attempted += 1
      // point lookups of keys the stream changed, against the replay
      files.takeRight(size.lookups).foreach { f =>
        if (tr.on) Layers.lookupFiles(ctx, table, f.probe.toString)
        val (got, s) = ctx.timeS(tr.span("sink.readRange")(
          CdcSink.readRange(spark, table, f.probe.toString, f.probe.toString)
            .select("title").collect().map(_.getString(0)).toSeq))
        lookupS += s
        ctx.attempted += 1
        ctx.check(got == model.get(f.probe).toSeq,
          s"replica: lookup of ${f.probe} returned $got, replay says ${model.get(f.probe)}")
      }
      if (first) {
        // decoded per-operation counts must equal what the writer wrote
        val ops = spark.read.format("binlog").load(watch.toString).groupBy("op").count()
          .collect().map(r => Option(r.getString(0)).getOrElse("-") -> r.getLong(1)).toMap
        val want = Map("c" -> files.map(_.w.inserts).sum, "u" -> files.map(_.w.updates).sum,
          "d" -> files.map(_.w.deletes).sum)
        ctx.check(want.forall { case (k, v) => ops.getOrElse(k, 0L) == v },
          s"replica: decoded ops $ops, written $want")
        if (tr.on) {
          Layers.parse(ctx, Backfill.listFiles(watch))
          Layers.logFiles(ctx, table)
        }
      }
      RoundResult(lags, lookupS.toSeq, backlogRows / catchupS, scanRate, late.toSeq)
    } finally {
      if (q.isActive) q.stop()
      Seq(table, watch.toString, ckpt.toString).foreach(d =>
        Ctx.deleteTree(java.nio.file.Paths.get(d)))
    }
  }

  /** A small stream, so the first timed batch pays no first-use costs. */
  private def warm(ctx: Ctx): Unit = {
    import ctx.spark
    val dir = ctx.freshDir("warm")
    val table = dir.resolve("t").toString
    val watch = Files.createDirectories(dir.resolve("watch"))
    val m = mutable.HashMap.empty[Int, String] ++= (1 to 1000).map(k => k -> s"v0-$k")
    val tiny = Size(1000, 2, 1, 0, 1, 100, 0, 0)
    generate(ctx, tiny, watch, m)
    bootstrap(spark, 1000, table)
    val q = spark.readStream.format("binlog").load(watch.toString).writeStream
      .option("checkpointLocation", dir.resolve("ckpt").toString)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (b: DataFrame, _: Long) => CdcSink.merge(b.sparkSession, compose(b), table) }
      .start()
    q.awaitTermination()
    CdcSink.readRange(spark, table, "1", "1").collect()
    CdcSink.read(spark, table).collect()
    Ctx.deleteTree(dir)
  }
}
