package cdcbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.SparkSession

/** Entry point: `cdcbench.Main --workload <name> --seed <n> --seconds <s>
  * --trace <0|1> --work <dir> [--small]`.
  *
  * Prints one JSON line last: `correct`, `attempted`, `failed` and the
  * end-to-end metrics (trace 0) or the per-layer metrics (trace 1). A
  * traced run also writes its spans' summary to `<work>/../trace-*.json`.
  */
object Main {

  final case class Args(workload: String, seed: Long, seconds: Double,
      trace: Boolean, work: Path, small: Boolean)

  def parse(a: Array[String]): Args = {
    val m = a.sliding(2, 2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, sys.error(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toDouble,
      need("trace") == "1", Paths.get(need("work")).toAbsolutePath,
      m.get("small").contains("1"))
  }

  private val workloads = Seq(Backfill, Upsert, Replica)

  def main(argv: Array[String]): Unit = {
    val args = parse(argv)
    // `train` runs every workload briefly on small inputs in one JVM; the
    // launcher uses it once per build to record a class-data archive
    val chosen: Seq[Workload] =
      if (args.workload == "train") workloads
      else Seq(workloads.find(_.name == args.workload).getOrElse(
        sys.error(s"unknown workload ${args.workload} (${workloads.map(_.name).mkString(", ")})")))
    Files.createDirectories(args.work)
    val t0 = System.nanoTime()
    val cpus = Runtime.getRuntime.availableProcessors()
    val spark = graft.Spark.session(
      master = s"local[$cpus]", shufflePartitions = cpus, appName = "cdcbench")
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.nanoTime() - t0) / 1e9
    val tracer = Tracer(spark, args.trace)
    val status =
      try {
        if (args.workload == "train")
          chosen.foreach(w => w.run(new Ctx(spark, args.copy(workload = w.name), tracer, sessionS)))
        else {
          val ctx = new Ctx(spark, args, tracer, sessionS)
          val r = chosen.head.run(ctx)
          println(Out.line(r, ctx))
          if (args.trace) Out.writeTrace(r, ctx) else Out.saveE2e(r, ctx)
        }
        0
      } catch {
        case e: Throwable =>
          e.printStackTrace()
          1
      } finally {
        tracer.close()
        spark.stop()
        Ctx.deleteTree(args.work)
      }
    sys.exit(status)
  }
}

/** One workload: set up, measure for `seconds`, check, report. */
trait Workload {
  def name: String
  def run(ctx: Ctx): Result
}

/** What a run hands back. `e2e` and `layer` are (name -> (value, unit)). */
final case class Result(
    correct: Boolean,
    attempted: Long,
    failed: Long,
    e2e: Seq[(String, Double, String)],
    layer: Seq[(String, Double, String)],
    info: Seq[(String, String)],
    selfTimes: Seq[(String, String)])

/** Per-run state shared by the workloads. */
final class Ctx(val spark: SparkSession, val args: Main.Args, val tracer: Tracer,
    val sessionS: Double) {

  val rng = new scala.util.Random(args.seed)
  private val problems = mutable.ArrayBuffer.empty[String]
  var attempted = 0L
  var failed = 0L

  /** A fresh directory under the run's work dir (deleted at exit). */
  def freshDir(prefix: String): Path =
    Files.createDirectories(args.work.resolve(s"$prefix-${Ctx.dirs.incrementAndGet()}"))

  /** Record one check: a failure makes the run incorrect. */
  def check(ok: Boolean, what: => String): Unit =
    if (!ok) { problems += what; System.err.println(s"[cdcbench] CHECK FAILED: $what") }

  def correct: Boolean = problems.isEmpty

  /** Whole rounds in a run: `--seconds` over the workload's seconds per
    * round, rounded, at least one. The count depends on nothing
    * measured, so every run repeats the same operations and is equally
    * far along the JIT's warm-up curve.
    */
  def rounds(nominalS: Double): Int = math.max(1, math.round(args.seconds / nominalS).toInt)

  def timeS[T](body: => T): (T, Double) = {
    val t = System.nanoTime(); val r = body; (r, (System.nanoTime() - t) / 1e9)
  }

  def fs: org.apache.hadoop.fs.FileSystem =
    org.apache.hadoop.fs.FileSystem.getLocal(spark.sparkContext.hadoopConfiguration)

  /** JVM counters over the measured phase. */
  private val gcBeans = ManagementFactory.getGarbageCollectorMXBeans.asScala
  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP)
  private var gc0 = 0L
  def jvmStart(): Unit = {
    gc0 = gcBeans.map(_.getCollectionTime).sum
    heapPools.foreach(_.resetPeakUsage())
  }
  def jvmMetrics(): Seq[(String, Double, String)] = Seq(
    ("jvm.gc_ms", (gcBeans.map(_.getCollectionTime).sum - gc0).toDouble, "ms"),
    ("jvm.heap_peak_mb", heapPools.map(_.getPeakUsage.getUsed).sum / 1048576.0, "MB"))
}

object Ctx {
  private val dirs = new java.util.concurrent.atomic.AtomicInteger(0)

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder[Path]()).iterator().asScala
        .foreach(Files.deleteIfExists)
      finally s.close()
    }
}

object Stats {
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted; val n = s.length
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }

  /** The highest percentile with at least ten samples above it, as
    * (percentile, value); None with fewer than 11 samples.
    */
  def tail(xs: Seq[Double]): Option[(Int, Double)] =
    if (xs.length < 11) None
    else {
      val s = xs.sorted; val i = s.length - 11
      Some(((i + 1) * 100 / s.length, s(i)))
    }
}

object Out {
  private def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "0" else java.math.BigDecimal.valueOf(d).toPlainString

  private def str(s: String): String =
    "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"").replace("\n", "\\n") + "\""

  private def metrics(ms: Seq[(String, Double, String)]): String =
    ms.map { case (n, v, u) => s"${str(n)}: {\"value\": ${num(v)}, \"unit\": ${str(u)}}" }
      .mkString("{", ", ", "}")

  def line(r: Result, ctx: Ctx): String = {
    // human-readable context first: sample counts, tails, findings
    r.info.foreach { case (k, v) => println(s"[cdcbench] $k: $v") }
    val ms = if (ctx.args.trace) r.layer else r.e2e
    s"""{"correct": ${r.correct}, "attempted": ${r.attempted}, "failed": ${r.failed}, "metrics": ${metrics(ms)}}"""
  }

  /** The traced run's record: per-layer metrics, self time per span
    * name, the traced end-to-end figures, and the tracing overhead
    * against the last untraced run of the same workload in this
    * checkout (when there is one).
    */
  def writeTrace(r: Result, ctx: Ctx): Unit = {
    val dir = ctx.args.work.getParent
    val w = ctx.args.workload
    val untraced = dir.resolve(s"e2e-$w.json")
    val base: Map[String, Double] =
      if (!Files.exists(untraced)) Map.empty
      else "\"([^\"]+)\": \\{\"value\": ([-0-9.E]+)".r
        .findAllMatchIn(new String(Files.readAllBytes(untraced), "UTF-8"))
        .map(m => m.group(1) -> m.group(2).toDouble).toMap
    val overhead = r.e2e.flatMap { case (n, v, u) =>
      base.get(n).map(b => s"${str(n)}: {\"traced\": ${num(v)}, \"untraced\": ${num(b)}, " +
        s"\"overhead\": ${num(v - b)}, \"unit\": ${str(u)}}")
    }
    val json =
      s"""{"workload": ${str(w)}, "seed": ${ctx.args.seed}, "correct": ${r.correct},
         | "self_ms": ${r.selfTimes.map { case (n, v) => s"${str(n)}: $v" }.mkString("{", ", ", "}")},
         | "per_layer": ${metrics(r.layer)},
         | "traced_end_to_end": ${metrics(r.e2e)},
         | "tracing_overhead": ${overhead.mkString("{", ", ", "}")},
         | "info": ${r.info.map { case (k, v) => s"${str(k)}: ${str(v)}" }.mkString("{", ", ", "}")}}
         |""".stripMargin
    Files.write(dir.resolve(s"trace-$w.json"), json.getBytes("UTF-8"))
  }

  /** Keep an untraced run's end-to-end figures for the next traced run. */
  def saveE2e(r: Result, ctx: Ctx): Unit =
    if (!ctx.args.trace)
      Files.write(ctx.args.work.getParent.resolve(s"e2e-${ctx.args.workload}.json"),
        metrics(r.e2e).getBytes("UTF-8"))
}
