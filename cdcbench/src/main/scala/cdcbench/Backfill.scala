package cdcbench

import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.cdc.{CdcApply, CdcSink, Changelog, DeltaLog}

/** `backfill`: a replica's first sync.
  *
  * Rotated binlog files of inserts with globally unique keys go through
  * `Changelog.fromBinlog` and `CdcSink.writeSnapshotClustered` into one
  * commit; the snapshot is then scanned in full with `CdcSink.read` and
  * probed with `readRange` point lookups. Parse, decode, fold and file
  * write do nearly all the work; the commit protocol runs once per
  * round and nothing streams. The seed permutes which file, transaction
  * and slot each key lands in.
  */
object Backfill extends Workload {
  val name = "backfill"

  private final case class Size(files: Int, txnsPerFile: Int, rowsPerTxn: Int, lookups: Int) {
    def rows: Long = files.toLong * txnsPerFile * rowsPerTxn
  }

  private val Ts = 1700000000L

  /** Seconds of `--seconds` per measured round (two at 12 s). */
  private val RoundS = 6.0

  /** Write the fixture: keys 1..n, seeded placement, title `row-<key>`. */
  private def generate(ctx: Ctx, size: Size, dir: Path): Seq[BinlogWriter.Written] = {
    val n = size.rows.toInt
    val keys = Array.tabulate(n)(_ + 1)
    val rng = new scala.util.Random(ctx.args.seed)
    var i = n - 1
    while (i > 0) { val j = rng.nextInt(i + 1); val t = keys(i); keys(i) = keys(j); keys(j) = t; i -= 1 }
    var at = 0
    (1 to size.files).map { f =>
      val txns = Seq.fill(size.txnsPerFile) {
        val t = BinlogWriter.Txn((at until at + size.rowsPerTxn)
          .map(k => BinlogWriter.Insert(keys(k), s"row-${keys(k)}")))
        at += size.rowsPerTxn
        t
      }
      val next = if (f < size.files) Some(BinlogWriter.fileName(f + 1)) else None
      BinlogWriter.write(dir.resolve(BinlogWriter.fileName(f)), txns, next, Ts)
    }
  }

  def run(ctx: Ctx): Result = {
    import ctx.spark
    val size =
      if (ctx.args.small) Size(files = 2, txnsPerFile = 5, rowsPerTxn = 500, lookups = 2)
      else Size(files = 4, txnsPerFile = 10, rowsPerTxn = 2000, lookups = 5)
    val n = size.rows
    val tr = ctx.tracer

    // set-up: fixture generation three times (median), then one
    // unmeasured round, which takes the session's first-use costs (code
    // generation, JIT; about 3x a later round)
    var binlogDir: Path = null
    var written: Seq[BinlogWriter.Written] = Nil
    val genS = (1 to 3).map { _ =>
      if (binlogDir != null) Ctx.deleteTree(binlogDir)
      binlogDir = ctx.freshDir("binlog")
      ctx.timeS { written = generate(ctx, size, binlogDir) }._2
    }
    val src = () => spark.read.format("binlog").load(binlogDir.toString)
    val writeS, scanS, lookupS = scala.collection.mutable.ArrayBuffer.empty[Double]
    var table: String = null

    /** One round: backfill into a fresh table, scan it, probe it. */
    def round(record: Boolean): Unit = {
      val trace = tr.on && record
      def span[T](name: String)(body: => T): T = if (record) tr.span(name)(body) else body
      if (table != null) Ctx.deleteTree(java.nio.file.Paths.get(table).getParent)
      table = ctx.freshDir("table").resolve("t").toString
      val cl = Changelog.fromBinlog(src()).toDF
      if (trace) {
        // materialize the lazy pipeline stage by stage
        def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()
        span("binlog.scan")(noop(src()))
        span("changelog.fromBinlog")(noop(cl))
        span("apply.snapshot")(noop(CdcApply.snapshot(cl)))
        // unique inserts: every changelog row must survive the fold
        val out = Layers.fold(ctx, cl)
        ctx.check(out == n, s"backfill: CdcApply.snapshot kept $out of $n unique inserts")
      }
      val w = ctx.timeS(span("sink.writeSnapshotClustered")(
        CdcSink.writeSnapshotClustered(cl, table)))._2
      if (trace) Layers.afterWrite(ctx, table)

      if (trace) Layers.scanFiles(ctx, table)
      val (agg, s) = ctx.timeS(span("sink.read")(scanAll(CdcSink.read(spark, table))))
      if (record) { writeS += w; scanS += s; ctx.attempted += 2 }
      ctx.check(agg.count == n, s"backfill: $n rows expected, read ${agg.count}")
      ctx.check(agg.keySum == BigInt(n) * (n + 1) / 2,
        s"backfill: key sum ${agg.keySum}, expected n(n+1)/2 = ${BigInt(n) * (n + 1) / 2}")
      ctx.check(agg.badTitles == 0, s"backfill: ${agg.badTitles} titles are not row-<key>")
      ctx.check(agg.other, s"backfill: column aggregate off: $agg")

      (1 to size.lookups).foreach { _ =>
        val k = 1 + ctx.rng.nextInt(n.toInt)
        if (trace) Layers.lookupFiles(ctx, table, k.toString)
        val (rows, s) = ctx.timeS(span("sink.readRange")(
          CdcSink.readRange(spark, table, k.toString, k.toString)
            .select(col("key"), get_json_object(col("after"), "$.col_1")).collect()))
        if (record) { lookupS += s; ctx.attempted += 1 }
        ctx.check(rows.length == 1 && rows(0).getString(1) == s"row-$k",
          s"backfill: lookup of $k returned ${rows.mkString(",")}")
      }
    }

    val warmS = ctx.timeS(round(record = false))._2
    val setupS = ctx.sessionS + Stats.median(genS) + warmS

    ctx.jvmStart()
    val t0 = System.nanoTime()
    val rounds = ctx.rounds(RoundS)
    (1 to rounds).foreach(_ => round(record = true))
    val measuredS = (System.nanoTime() - t0) / 1e9

    // the last table's public Delta log must replay to the same rows
    val viaSink = CdcSink.read(spark, table)
    val viaDelta = DeltaLog.read(spark, table).select(viaSink.columns.map(col): _*)
    ctx.check(viaSink.exceptAll(viaDelta).isEmpty && viaDelta.exceptAll(viaSink).isEmpty,
      "backfill: DeltaLog.read and CdcSink.read disagree")
    ctx.attempted += 1
    if (tr.on) Layers.logFiles(ctx, table)

    // decoded per-operation counts must equal what the writer wrote
    val decoded = src().groupBy("op").count().collect()
      .map(r => Option(r.getString(0)).getOrElse("-") -> r.getLong(1)).toMap
    val events = src().select("file", "log_pos").distinct().count()
    ctx.check(decoded.getOrElse("c", 0L) == written.map(_.inserts).sum &&
      !decoded.contains("u") && !decoded.contains("d"),
      s"backfill: decoded ops $decoded, written ${written.map(_.inserts).sum} inserts")
    ctx.check(events == written.map(_.events).sum,
      s"backfill: decoded $events events, written ${written.map(_.events).sum}")

    val e2e = Seq(
      ("setup_s", setupS, "s"),
      ("write_rows_per_s", n / Stats.median(writeS.toSeq), "rows/s"),
      ("commit_p50_s", Stats.median(writeS.toSeq), "s"),
      ("scan_rows_per_s", n / Stats.median(scanS.toSeq), "rows/s"),
      ("lookup_p50_ms", Stats.median(lookupS.toSeq) * 1000, "ms"))
    val layer =
      if (!tr.on) Nil
      else {
        Layers.parse(ctx, listFiles(binlogDir))
        Layers.collect(ctx)
      }
    def f(x: Double) = f"$x%.2f"
    val info = Seq(
      "setup_parts_s" -> s"session ${f(ctx.sessionS)}, fixture ${genS.map(f).mkString("/")}, warm ${f(warmS)}",
      "rounds" -> rounds.toString,
      "write_s" -> writeS.map(f).mkString(" "),
      "scan_s" -> scanS.map(f).mkString(" "),
      "rows_per_round" -> n.toString,
      "measured_s" -> f"$measuredS%.2f",
      "lookups" -> lookupS.size.toString,
      "binlog_bytes" -> written.map(_.bytes).sum.toString)
    Result(ctx.correct, ctx.attempted, ctx.failed, e2e, layer, info, Layers.selfTimes(tr))
  }

  def listFiles(dir: Path): Seq[Path] = {
    val s = Files.list(dir)
    try s.iterator().asScala.toSeq.sorted finally s.close()
  }

  private final case class Agg(count: Long, keySum: BigInt, badTitles: Long, other: Boolean)

  /** One pass that reads every column of the snapshot. */
  private def scanAll(df: DataFrame): Agg = {
    val r = df.agg(
      count(lit(1)),
      sum(col("key").cast("decimal(38,0)")),
      sum(when(get_json_object(col("after"), "$.col_1") === concat(lit("row-"), col("key")) &&
        get_json_object(col("after"), "$.col_0") === col("key"), 0L).otherwise(1L)),
      min(col("table")), max(col("table")), min(col("op")), max(col("op")),
      count(col("sourceFile")), min(col("offset")), min(col("ts")), max(col("ts")),
      count(col("before"))).head()
    val n = r.getLong(0)
    val other = r.getString(3) == "gen.gen" && r.getString(4) == "gen.gen" &&
      r.getString(5) == "c" && r.getString(6) == "c" && r.getLong(7) == n &&
      r.getLong(8) > 0 && r.get(9) == r.get(10) && r.getLong(11) == 0L
    Agg(n, BigInt(r.getDecimal(1).toBigInteger), r.getLong(2), other)
  }
}
