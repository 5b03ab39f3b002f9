package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** One benchmark run in a fresh JVM.
  *
  * `perfbench.Main --root DIR --workload NAME --seed N --seconds S
  *    --trace 0|1 --out FILE [--setup-only]`
  *
  * Sets up (Spark session, workload inputs), then repeats the
  * workload's pass until `--seconds` have passed, at least once, and
  * writes one JSON result to `--out`: the end-to-end metrics, or with
  * `--trace 1` the per-layer ones, plus the operation counts. Spans go
  * to `<out>.spans.json` in a traced run. `--setup-only` stops at the
  * first timed call. run.py turns the result into the benchmark's line.
  */
object Main {

  final case class Args(
      root: Path,
      workload: String,
      seed: Long,
      seconds: Double,
      trace: Boolean,
      out: Path,
      setupOnly: Boolean) {
    val work: Path = root.resolve(".bench_build").resolve("work")
  }

  def parse(argv: Array[String]): Args = {
    val kv = argv.sliding(2, 1).collect { case Array(k, v) if k.startsWith("--") => k -> v }.toMap
    def need(k: String) = kv.getOrElse(k, throw new IllegalArgumentException(s"missing $k"))
    Args(
      Paths.get(need("--root")).toAbsolutePath.normalize,
      need("--workload"),
      need("--seed").toLong,
      need("--seconds").toDouble,
      need("--trace") == "1",
      Paths.get(need("--out")).toAbsolutePath,
      argv.contains("--setup-only"))
  }

  /** What a workload leaves for the result file: its operations, its
    * metrics, and the output counts it checked.
    */
  final case class Outcome(
      ops: Seq[Op],
      metrics: Seq[(String, Double, String)],
      counts: Map[String, Long] = Map.empty)

  def main(argv: Array[String]): Unit = {
    val args = parse(argv)
    val workload = Workloads.byName.getOrElse(args.workload,
      throw new IllegalArgumentException(
        s"unknown workload ${args.workload}; known: ${Workloads.byName.keys.toSeq.sorted.mkString(", ")}"))
    Files.createDirectories(args.work)
    val spark = session(args)
    try {
      val clock = new Clock
      val run = workload.prepare(spark, args, clock)
      clock.ready()
      val outcome =
        if (args.setupOnly) Outcome(Nil, Nil)
        else run()
      write(args, clock,
        if (!args.trace) outcome
        else outcome.copy(metrics =
          outcome.metrics :+ (("setup.excluded_s", clock.excludedNs / 1e9, "s"))))
    } finally spark.stop()
  }

  /** local[nproc], shuffle partitions = nproc, AQE on, UTC; every
    * file Spark writes stays under the checkout's build directory.
    */
  def session(args: Args): SparkSession = {
    val cores = Runtime.getRuntime.availableProcessors
    val scratch = args.work.resolve("spark")
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-${args.workload}")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", scratch.resolve("local").toString)
      .config("spark.sql.warehouse.dir", scratch.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Marks the first timed call, and the benchmark's own preparation
    * (input generation, warm-up) that set-up time leaves out.
    */
  final class Clock {
    @volatile var readyEpochNs = 0L
    @volatile var excludedNs = 0L
    def excluded[A](f: => A): A = {
      val t0 = System.nanoTime()
      try f finally excludedNs += System.nanoTime() - t0
    }
    def ready(): Unit = {
      val now = java.time.Instant.now()
      readyEpochNs = now.getEpochSecond * 1000000000L + now.getNano
    }
  }

  /** Where a traced run writes its spans. */
  def spansPath(args: Args): Path = Paths.get(args.out.toString + ".spans.json")

  private def write(args: Args, clock: Clock, o: Outcome): Unit = {
    val errors = o.ops.filterNot(_.ok).take(10).map(op => Json.str(s"${op.name}: ${op.error.get}"))
    val metrics = o.metrics.map { case (k, v, unit) =>
      s"""${Json.str(k)}:{"value":${Json.num(v)},"unit":${Json.str(unit)}}"""
    }
    val ops = o.ops.map { op =>
      s"""{"name":${Json.str(op.name)},"group":${Json.str(op.group)},"ok":${op.ok},""" +
        s""""build_s":${op.buildS},"execute_s":${op.executeS}}"""
    }
    val json =
      s"""{"ready_epoch_ns":${clock.readyEpochNs},"excluded_ns":${clock.excludedNs},""" +
        s""""attempted":${o.ops.size},"failed":${o.ops.count(!_.ok)},""" +
        s""""errors":${errors.mkString("[", ",", "]")},""" +
        s""""counts":${o.counts.map { case (k, v) => s"${Json.str(k)}:$v" }.mkString("{", ",", "}")},""" +
        s""""metrics":${metrics.mkString("{", ",", "}")},""" +
        s""""ops":${ops.mkString("[\n", ",\n", "\n]")}}"""
    Files.writeString(args.out, json)
  }
}

/** A workload: `prepare` is set-up, the function it returns is the
  * measured part.
  */
trait Workload {
  def name: String
  def prepare(spark: SparkSession, args: Main.Args, clock: Main.Clock): () => Main.Outcome
}

object Workloads {
  val byName: Map[String, Workload] =
    Seq(RrPipeline, Contract).map(w => w.name -> w).toMap

  /** Repeats `pass` until `seconds` have passed since the first one
    * started; always runs at least one.
    */
  def passes[A](seconds: Double)(pass: Int => A): Seq[A] = {
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    val out = mutable.ArrayBuffer.empty[A]
    while (out.isEmpty || System.nanoTime() < deadline) out += pass(out.size)
    out.toSeq
  }

  /** A fresh session on the shared context, with the code-generation
    * cache emptied: each pass pays planning and compiling as the first
    * pass in a new JVM does, while the context, its executors and the
    * JIT stay warm.
    */
  def freshSession(base: SparkSession, phases: PhaseTimes, traced: Boolean): SparkSession = {
    org.apache.spark.perfbench.Internals.clearCodegenCache()
    val s = base.newSession()
    if (traced) s.listenerManager.register(phases)
    s
  }

  val MB = 1024.0 * 1024.0
}
