package cdcbench

import scala.collection.mutable
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.cdc.{CdcSink, TxnLog}

/** `upsert`: a long series of small change batches merged into a table
  * larger than the sink's file target, with a point lookup of a
  * just-changed key after each merge.
  *
  * A run starts from a bulk import of `base` rows (key k holds value
  * `baseValue(k)`), range-clustered into full files of the sink's record
  * target plus a partial top file, and runs one compaction cycle:
  * `CdcSink.CompactEvery` merges, the last of which compacts the table.
  * The first `Warm` merges belong to set-up; the rest are measured.
  * Inserts append at the top of the key space; updates and deletes hit
  * recent keys (squared-uniform skew over the top `recent` keys).
  * Merge, key-range pruning, commit and compaction dominate; no binlog
  * is parsed.
  */
object Upsert extends Workload {
  val name = "upsert"

  private final case class Size(base: Long, batch: Int, recent: Int)

  /** Merges of each cycle run in set-up (unmeasured); the rest of the
    * cycle, compaction included, is measured.
    */
  val Warm = 3

  /** Nominal length of a round (the measured part of a cycle) on the
    * reference host.
    */
  private val RoundS = 18.0

  def baseValue(k: Long): Long = (k * 7919L) % 10007L

  private val schema = StructType(Seq(
    StructField("key", LongType, nullable = false),
    StructField("op", StringType, nullable = false),
    StructField("offset", LongType, nullable = false),
    StructField("value", LongType, nullable = false)))

  /** The driver-side model: the touched keys over the closed-form base. */
  private final class Model(base: Long) {
    val touched = mutable.HashMap.empty[Long, Option[Long]]
    var top: Long = base
    def get(k: Long): Option[Long] =
      touched.getOrElse(k, if (k >= 1 && k <= base) Some(baseValue(k)) else None)
    def count: Long = base + touched.count { case (k, v) => v.isDefined && k > base } -
      touched.count { case (k, v) => v.isEmpty && k <= base }
    def sum: BigInt = {
      var acc = 0L
      var k = 1L
      while (k <= base) { acc += baseValue(k); k += 1 }
      touched.foldLeft(BigInt(acc)) { case (s, (k, v)) =>
        val now: Long = v.getOrElse(0L)
        s + (now - (if (k <= base) baseValue(k) else 0L))
      }
    }
  }

  /** One merge: its batch, and a key it changes with the value the
    * model holds for that key once the batch is applied.
    */
  private final case class Step(rows: Seq[Row], probe: Long, expect: Option[Long])

  /** One compaction cycle of batches, and the model's final (count, sum). */
  private final case class Cycle(steps: Seq[Step], count: Long, sum: BigInt)

  private def cycle(seed: Long, size: Size, merges: Int): Cycle = {
    val r = new scala.util.Random(seed)
    val m = new Model(size.base)
    var offset = 1000L * 1000 * 1000 * 1000 // above every bulk-import offset
    val steps = Seq.fill(merges) {
      val rows = Seq.fill(size.batch) {
        offset += 1
        val p = r.nextDouble()
        if (p < 0.2) {
          m.top += 1
          val v = r.nextInt(1000000).toLong
          m.touched(m.top) = Some(v)
          Row(m.top, "c", offset, v)
        } else {
          val u = r.nextDouble()
          val k = math.max(1L, m.top - (u * u * size.recent).toLong)
          if (p < 0.8) {
            val v = r.nextInt(1000000).toLong
            m.touched(k) = Some(v)
            Row(k, "u", offset, v)
          } else {
            m.touched(k) = None
            Row(k, "d", offset, 0L)
          }
        }
      }
      val probe = rows(r.nextInt(rows.size)).getLong(0)
      Step(rows, probe, m.get(probe))
    }
    Cycle(steps, m.count, m.sum)
  }

  def run(ctx: Ctx): Result = {
    import ctx.spark
    val tr = ctx.tracer
    val mergeS, lookupS, scanS = mutable.ArrayBuffer.empty[Double]
    var changes = 0L
    val size =
      if (ctx.args.small) Size(base = 20000L, batch = 200, recent = 2000)
      else Size(base = 2100000L, batch = 2000, recent = 100000)

    // set-up: the cycle's batches and model three times (median), the
    // bulk import, then the cycle's first `Warm` merges with their
    // lookups and one full read, which take the session's first-use costs
    var cyc: Cycle = null
    val genS = (1 to 3).map(_ => ctx.timeS { cyc = cycle(ctx.args.seed, size, CdcSink.CompactEvery) }._2)
    var table = ctx.freshDir("table").resolve("t").toString
    val bootS = ctx.timeS(bootstrap(ctx, size.base, table))._2
    def step(st: Step, record: Boolean): Unit = {
      val df = frame(ctx, st.rows)
      val trace = tr.on && record
      def span[T](name: String)(body: => T): T = if (record) tr.span(name)(body) else body
      if (trace) {
        // the batch's own fold: one row per key, minus keys whose last change is a delete
        val out = Layers.fold(ctx, df)
        val want = st.rows.groupBy(_.getLong(0)).values.count(_.maxBy(_.getLong(2)).getString(1) != "d")
        ctx.check(out == want, s"upsert: CdcApply.snapshot of a batch kept $out rows, expected $want")
      }
      val before = if (trace) tr.span("txnlog.current")(TxnLog.current(ctx.fs, table)) else None
      val ms = ctx.timeS(span("sink.merge")(CdcSink.merge(spark, df, table)))._2
      if (trace) Layers.afterMerge(ctx, table, before, st.rows.size)
      // point lookup of a key this batch just changed
      if (trace) Layers.lookupFiles(ctx, table, st.probe.toString)
      val (got, ls) = ctx.timeS(span("sink.readRange")(
        CdcSink.readRange(spark, table, st.probe.toString, st.probe.toString)
          .select("key", "value").collect()))
      ctx.check(got.map(_.getLong(1)).toSeq == st.expect.toSeq,
        s"upsert: lookup of ${st.probe} returned ${got.mkString(",")}, model says ${st.expect}")
      if (record) {
        mergeS += ms; lookupS += ls; changes += st.rows.size
        ctx.attempted += 2
      }
    }
    val warmS = ctx.timeS {
      cyc.steps.take(Warm).foreach(step(_, record = false))
      CdcSink.read(spark, table).agg(sum(col("value"))).collect()
    }._2
    val setupS = ctx.sessionS + Stats.median(genS) + bootS + warmS

    ctx.jvmStart()
    val t0 = System.nanoTime()
    val rounds = ctx.rounds(RoundS)
    (0 until rounds).foreach { r =>
      if (r > 0) { // a later round replays the cycle on a fresh import
        Ctx.deleteTree(java.nio.file.Paths.get(table).getParent)
        table = ctx.freshDir("table").resolve("t").toString
        bootstrap(ctx, size.base, table)
        cyc.steps.take(Warm).foreach(step(_, record = false))
      }
      cyc.steps.drop(Warm).foreach(step(_, record = true))
      // the cycle's final state: count and sum of values against the model
      (1 to 2).foreach { _ =>
        if (tr.on) Layers.scanFiles(ctx, table)
        val (r, s) = ctx.timeS(tr.span("sink.read")(CdcSink.read(spark, table)
          .agg(count(lit(1)), sum(col("value").cast("decimal(38,0)")),
            min(col("op")), max(col("offset"))).head()))
        scanS += cyc.count / s
        ctx.check(r.getLong(0) == cyc.count && BigInt(r.getDecimal(1).toBigInteger) == cyc.sum,
          s"upsert: table holds (${r.getLong(0)}, ${r.getDecimal(1)}), model says (${cyc.count}, ${cyc.sum})")
        ctx.attempted += 1
      }
      if (tr.on && r == 0) Layers.logFiles(ctx, table)
    }
    val measuredS = (System.nanoTime() - t0) / 1e9

    val e2e = Seq(
      ("setup_s", setupS, "s"),
      ("write_rows_per_s", changes / mergeS.sum, "rows/s"),
      ("commit_p50_s", Stats.median(mergeS.toSeq), "s"),
      ("scan_rows_per_s", Stats.median(scanS.toSeq), "rows/s"),
      ("lookup_p50_ms", Stats.median(lookupS.toSeq) * 1000, "ms"))
    val layer = if (tr.on) Layers.collect(ctx) else Nil
    def f(x: Double) = f"$x%.2f"
    val info = Seq(
      "setup_parts_s" -> s"session ${f(ctx.sessionS)}, fixture ${genS.map(f).mkString("/")}, bootstrap ${f(bootS)}, warm ${f(warmS)}",
      "rounds" -> rounds.toString,
      "merges" -> mergeS.size.toString,
      "merge_s" -> mergeS.map(f).mkString(" "),
      "merge_tail" -> Stats.tail(mergeS.toSeq).fold("n/a (<11 merges)") { case (p, v) => f"p$p $v%.3f s" },
      "measured_s" -> f(measuredS))
    Result(ctx.correct, ctx.attempted, ctx.failed, e2e, layer, info, Layers.selfTimes(tr))
  }

  private def frame(ctx: Ctx, rows: Seq[Row]) =
    ctx.spark.createDataFrame(ctx.spark.sparkContext.parallelize(rows, 1), schema)

  /** Bulk import of keys 1..n, range-clustered into full files of the
    * sink's record target and one partial top file.
    */
  private def bootstrap(ctx: Ctx, n: Long, table: String): Unit = {
    val t = TxnLog.TargetRecordsPerFile
    val ids = (1L to n by t).map(lo => ctx.spark.range(lo, math.min(lo + t, n + 1), 1, 1))
      .reduce(_ union _)
    val df = ids.select(
      col("id").as("key"), lit("c").as("op"), col("id").as("offset"),
      ((col("id") * 7919L) % 10007L).as("value"))
    CdcSink.writeSnapshotPreClustered(df, table)
  }
}
