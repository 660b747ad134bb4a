package cdcbench

import java.nio.file.{Files, Path}
import scala.collection.mutable
import org.apache.spark.sql.streaming.StreamingQueryProgress
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.sql.DataFrame
import graft.cdc.{CdcApply, TxnLog}
import graft.sources.binlog.BinlogParser

/** Per-layer metrics of a traced run: what the spans recorded plus what
  * the benchmark observes from graft's public surfaces (manifests,
  * `StreamingQueryProgress`, files). A metric whose layer the workload
  * never calls reads 0.
  */
object Layers {

  private final case class MergeObs(span: Tracer.Span, versions: Long, carried: Int,
      rewritten: Int, prevFiles: Int, filesWritten: Int, changes: Long)

  private val merges = mutable.ArrayBuffer.empty[MergeObs]
  private val lookupEntries, lookupBytes, scanBytes = mutable.ArrayBuffer.empty[Double]
  private val filesWritten = mutable.ArrayBuffer.empty[Double]
  private val progresses = mutable.ArrayBuffer.empty[StreamingQueryProgress]
  private var logFileCount = 0L
  private var parseBytes, parseEvents, parseImages = 0L
  private var parseS = 0.0
  private val rowsIn, rowsOut = mutable.ArrayBuffer.empty[Double]

  private def current(ctx: Ctx, table: String) =
    ctx.tracer.span("txnlog.current")(TxnLog.current(ctx.fs, table))

  /** After a merge: diff the manifest against the one before it. */
  def afterMerge(ctx: Ctx, table: String, before: Option[TxnLog.Manifest], changes: Long): Unit =
    synchronized {
      val after = current(ctx, table)
      val span = ctx.tracer.named("sink.merge").last
      (before, after) match {
        case (Some(b), Some(a)) =>
          val prev = b.entries.map(_.path).toSet
          val now = a.entries.map(_.path).toSet
          merges += MergeObs(span, a.version - b.version, (now & prev).size,
            (prev -- now).size, prev.size, (now -- prev).size, changes)
        case _ =>
      }
    }

  /** Rows into and out of `CdcApply.snapshot` over `changelog`, counted
    * by Spark; returns the rows out. The benchmark makes this call apart
    * from the sink's, since the fold inside `CdcSink.merge` and
    * `writeSnapshotClustered` is not visible from outside the program.
    */
  def fold(ctx: Ctx, changelog: DataFrame): Long = ctx.tracer.span("apply.count") {
    val in = changelog.count()
    val out = CdcApply.snapshot(changelog).count()
    synchronized { rowsIn += in.toDouble; rowsOut += out.toDouble }
    out
  }

  /** After a snapshot write: files the new version lists. */
  def afterWrite(ctx: Ctx, table: String): Unit =
    current(ctx, table).foreach(m => filesWritten += m.entries.size)

  private def fileBytes(table: String, es: Seq[TxnLog.Entry]): Double =
    es.map(e => Files.size(java.nio.file.Paths.get(table, e.path)).toDouble).sum

  /** Manifest entries whose key range covers `key`, as `readRange`
    * picks them, and their bytes on disk.
    */
  def lookupFiles(ctx: Ctx, table: String, key: String): Unit = synchronized {
    current(ctx, table).foreach { m =>
      val kt: DataType = m.schema.fields.find(_.name == TxnLog.StatsKeyCol).map(_.dataType).getOrElse(StringType)
      def cmp(a: String, b: String): Int =
        if (kt == StringType) a.compareTo(b) else java.lang.Long.compare(a.toLong, b.toLong)
      val hit = m.entries.filter(e =>
        e.min.forall(lo => cmp(lo, key) <= 0) && e.max.forall(hi => cmp(hi, key) >= 0))
      lookupEntries += hit.size.toDouble
      lookupBytes += fileBytes(table, hit)
    }
  }

  /** Bytes on disk of the files a full read of the current version opens. */
  def scanFiles(ctx: Ctx, table: String): Unit = synchronized {
    current(ctx, table).foreach(m => scanBytes += fileBytes(table, m.entries))
  }

  /** Files under the table's two commit logs. */
  def logFiles(ctx: Ctx, table: String): Unit = {
    def n(d: String): Long = {
      val p = java.nio.file.Paths.get(table, d)
      if (!Files.isDirectory(p)) 0L else { val s = Files.list(p); try s.count() finally s.close() }
    }
    logFileCount = n(TxnLog.LogDirName) + n("_delta_log")
  }

  /** Single-thread `BinlogParser.parseStream` over `files`. */
  def parse(ctx: Ctx, files: Seq[Path]): Unit = {
    ctx.tracer.span("binlog.parse") {
      val t = System.nanoTime()
      files.foreach { f =>
        val in = new java.io.BufferedInputStream(Files.newInputStream(f), 1 << 16)
        try {
          var lastPos = -1L
          BinlogParser.parseStream(in).foreach { d =>
            if (d.header.logPos != lastPos) { parseEvents += 1; lastPos = d.header.logPos }
            if (d.op != null) parseImages += 1
          }
        } finally in.close()
        parseBytes += Files.size(f)
      }
      parseS += (System.nanoTime() - t) / 1e9
    }
  }

  def progress(ctx: Ctx, ps: Seq[StreamingQueryProgress]): Unit =
    progresses ++= ps.filter(_.numInputRows > 0)

  private def med(xs: Iterable[Double]): Double = Stats.median(xs.toSeq)

  /** Every per-layer metric, in a fixed order. */
  def collect(ctx: Ctx): Seq[(String, Double, String)] = {
    val tr = ctx.tracer
    tr.drain()
    def ms(name: String) = tr.named(name).map(_.ms)
    // staged materializations of one round pair up by index
    def diff(a: String, b: String) =
      tr.named(a).zip(tr.named(b)).map { case (x, y) => math.max(0.0, x.ms - y.ms) }
    val writes = tr.named("sink.writeSnapshotClustered") ++ tr.named("sink.merge")
    val plain = merges.filter(_.versions == 1)
    val mergeSpans = tr.named("sink.merge")
    val batchMs = progresses.map(p => p.durationMs.get("triggerExecution").toDouble)
    val addMs = progresses.map(p => p.durationMs.get("addBatch").toDouble)
    Seq(
      ("binlog.parse_mb_per_s", if (parseS > 0) parseBytes / 1048576.0 / parseS else 0.0, "MB/s"),
      ("binlog.scan_ms", med(ms("binlog.scan")), "ms"),
      ("binlog.scan_tasks", med(tr.named("binlog.scan").map(_.tasks.toDouble)), "count"),
      ("binlog.events", parseEvents.toDouble, "count"),
      ("binlog.row_images", parseImages.toDouble, "count"),
      ("changelog.decode_ms", med(diff("changelog.fromBinlog", "binlog.scan")), "ms"),
      ("apply.fold_ms", med(diff("apply.snapshot", "changelog.fromBinlog")), "ms"),
      ("apply.shuffle_bytes", med(tr.named("apply.snapshot").map(_.shuffleBytes.toDouble)), "bytes"),
      ("apply.rows_in", med(rowsIn), "rows"),
      ("apply.rows_out", med(rowsOut), "rows"),
      ("txnlog.write_ms", med(writes.map(_.writeMs)), "ms"),
      ("txnlog.write_tasks", med(writes.map(_.writeTasks.toDouble)), "count"),
      ("txnlog.files_written", med(filesWritten ++ plain.map(_.filesWritten.toDouble)), "count"),
      ("txnlog.bytes_written", med(writes.map(_.bytesWritten.toDouble)), "bytes"),
      ("txnlog.commit_ms", med(writes.map(_.commitMs)), "ms"),
      ("txnlog.manifest_read_ms", med(ms("txnlog.current")), "ms"),
      ("txnlog.log_files", logFileCount.toDouble, "count"),
      ("sink.merge_ms", med(mergeSpans.map(_.ms)), "ms"),
      ("sink.merge_jobs", med(mergeSpans.map(_.jobs.toDouble)), "count"),
      ("sink.merge_stages", med(mergeSpans.map(_.stages.toDouble)), "count"),
      ("sink.merge_tasks", med(mergeSpans.map(_.tasks.toDouble)), "count"),
      ("sink.merge_cpu_ms", med(mergeSpans.map(_.cpuNs / 1e6)), "ms"),
      ("sink.merge_shuffle_bytes", med(mergeSpans.map(_.shuffleBytes.toDouble)), "bytes"),
      ("sink.files_carried", med(plain.map(_.carried.toDouble)), "count"),
      ("sink.files_rewritten", med(plain.map(_.rewritten.toDouble)), "count"),
      ("sink.prune_ratio", med(plain.filter(_.prevFiles > 0).map(o => o.carried.toDouble / o.prevFiles)), "ratio"),
      ("sink.rows_rewritten_per_change",
        med(plain.filter(_.changes > 0).map(o => o.span.recordsWritten.toDouble / o.changes)), "rows"),
      ("sink.compact_ms", med(merges.filter(_.versions == 2).map(_.span.ms)), "ms"),
      ("sink.lookup_ms", med(ms("sink.readRange")), "ms"),
      ("sink.lookup_files", med(lookupEntries), "count"),
      ("sink.lookup_bytes_read", med(lookupBytes), "bytes"),
      ("sink.scan_ms", med(ms("sink.read")), "ms"),
      ("sink.scan_bytes_read", med(scanBytes), "bytes"),
      ("stream.batches", progresses.size.toDouble, "count"),
      ("stream.batch_rows", med(progresses.map(_.numInputRows.toDouble)), "rows"),
      ("stream.trigger_ms", med(batchMs), "ms"),
      ("stream.add_batch_ms", med(addMs), "ms"),
      ("stream.overhead_ms", med(batchMs.zip(addMs).map { case (t, a) => t - a }), "ms"),
      ("stream.offset_bytes", progresses.lastOption
        .map(_.sources.head.endOffset.getBytes("UTF-8").length.toDouble).getOrElse(0.0), "bytes")
    ) ++ ctx.jvmMetrics()
  }

  /** Per span name: self time (total, calls, median per call) and the
    * Spark work attributed to those spans (totals).
    */
  def selfTimes(tr: Tracer): Seq[(String, String)] =
    tr.all.groupBy(_.name).toSeq.sortBy(_._1).map { case (n, ss) =>
      def tot(f: Tracer.Span => Long) = ss.map(f).sum
      n -> (f"""{"self_total_ms": ${ss.map(_.selfMs).sum}%.1f, "calls": ${ss.size}, """ +
        f""""self_median_ms": ${Stats.median(ss.map(_.selfMs))}%.1f, "jobs": ${tot(_.jobs)}, """ +
        f""""stages": ${tot(_.stages)}, "tasks": ${tot(_.tasks)}, "cpu_ms": ${tot(_.cpuNs) / 1e6}%.1f, """ +
        f""""bytes_read": ${tot(_.bytesRead)}, "bytes_written": ${tot(_.bytesWritten)}, """ +
        f""""records_written": ${tot(_.recordsWritten)}, "shuffle_bytes": ${tot(_.shuffleBytes)}}""")
    }
}
