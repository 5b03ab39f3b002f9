package perfbench

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.apache.spark.perfbench.Internals
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.{Caches, Sinks}
import graft.pipeline.{Embeddings, RetailRocket}

/** The paper's batch job: `RetailRocket.run` from RetailRocket-shaped
  * CSVs (generated from the seed, see [[RrData]]) to the train and
  * valid 38-column feature matrices written as parquet.
  *
  * The traced run calls the pipeline's public stages one by one, each
  * forced with a count, so that every stage has its own span and
  * counters; the untraced run makes the one `RetailRocket.run` call.
  */
object RrPipeline extends Workload {
  val name = "rr-pipeline"

  /** Events per run, in BaselineBench's proportions. At this size the
    * cold pass takes about 37 s on 4 cores, which fits a 180 s run; at
    * the reference's 1.9M events it takes minutes.
    */
  val Scale: RrData.Scale = RrData.Scale(30000L)

  /** The traced run's stages, in `RetailRocket.buildAll`'s order. */
  val Stages: Seq[String] = Seq("sessionize", "item_category", "atc_split", "train_matrices",
    "word2vec", "candidates", "features", "write")

  /** The output schema of FIXTURES.md §3, in column order. */
  val Schema: Seq[(String, String)] = Seq(
    "session_id" -> "string", "atc_ts" -> "timestamp", "category_id" -> "bigint",
    "n_prefix_items" -> "bigint", "n_prefix_events" -> "bigint",
    "cat_count_in_prefix" -> "bigint", "cat_share_in_prefix" -> "double",
    "recency_sec" -> "bigint", "log_recency" -> "double", "hour_of_day" -> "int",
    "day_of_week" -> "int", "is_weekend" -> "int", "time_since_session_start" -> "bigint",
    "session_cat_diversity" -> "bigint", "cat_popularity" -> "bigint",
    "log_cat_pop" -> "double", "user_cat_hist" -> "bigint", "log_user_cat_hist" -> "double",
    "user_cat_sessions" -> "bigint", "user_total_sessions" -> "bigint",
    "user_avg_session_dur" -> "double", "y" -> "int") ++
    (0 until 16).map(i => s"cat_emb_$i" -> "float")

  val CountKeys: Seq[String] = Seq("train_rows", "valid_rows", "train_positive", "valid_positive")

  def prepare(spark: SparkSession, args: Main.Args, clock: Main.Clock): () => Main.Outcome = {
    val ev = args.work.resolve("rr-inputs/events_csv").toString
    val pr = args.work.resolve("rr-inputs/props_csv").toString
    // Written in every run, so every pass starts from the same JVM state.
    if (!args.setupOnly) clock.excluded(RrData.write(spark, Scale, args.seed, ev, pr))
    val recorded = RrPipeline.recorded(args.root.resolve("perfbench/expected/rr-pipeline.json"))
      .get(args.seed)
    val (exec, phases) = Probes.attach(spark, args.trace)
    val tracer = new Tracer(args.trace)
    val cores = Runtime.getRuntime.availableProcessors
    () => {
      val t0 = System.nanoTime()
      val stageSums = scala.collection.mutable.LinkedHashMap.empty[String, Array[Double]]
      var lastCounts = Map.empty[String, Long]
      val perPass = Workloads.passes(args.seconds) { pass =>
        val s = Workloads.freshSession(spark, phases, args.trace)
        val out = args.work.resolve(s"rr-out/pass$pass").toString
        Internals.drain(spark.sparkContext)
        exec.startWindow()
        val before = exec.snapshot()
        val cg0 = (Codegen.compileNs, Codegen.compiles)
        // Each stage opens its own window for the longest task and the
        // cache peak; the pass's are the largest of them.
        var stageMax = (0L, 0L)
        val root = tracer.reserve()
        var counts = Map.empty[String, Long]
        val run = Op.run("RetailRocket.run", "pipeline")(()) { _ =>
          if (!args.trace) RetailRocket.run(s, ev, Seq(pr), out)
          else staged(s, ev, pr, out) { (stage, f) =>
            Internals.drain(spark.sparkContext)
            exec.startWindow()
            val b = exec.snapshot()
            val start = System.nanoTime()
            val r = tracer.span(stage, root)(f())
            val wall = (System.nanoTime() - start) / 1e9
            Internals.drain(spark.sparkContext)
            val d = exec.snapshot() - b
            val acc = stageSums.getOrElseUpdate(stage, new Array[Double](4))
            acc(0) += wall
            acc(1) += d.shuffleBytes / Workloads.MB
            acc(2) += d.taskNs / 1e9
            acc(3) = math.max(acc(3), d.maxTaskNs / 1e9)
            stageMax = (math.max(stageMax._1, d.maxTaskNs), math.max(stageMax._2, d.peakCachedBytes))
            r
          }
        } { c => counts = c; None }
        tracer.recordAs(root, 0L, run.name, run.startNs, run.endNs)
        Internals.drain(spark.sparkContext)
        val d = exec.snapshot() - before
        // The output check reads the matrices back: it runs after the
        // pass's counters are taken, so its jobs are not counted.
        val op = if (!run.ok) run else run.copy(error =
          try check(s, out, counts, recorded)
          catch { case e: Throwable => Some(s"check: ${e.getClass.getName}: ${e.getMessage}") })
        lastCounts = counts
        Pass(Seq(op), op.latencyS,
          d.copy(maxTaskNs = math.max(d.maxTaskNs, stageMax._1),
            peakCachedBytes = math.max(d.peakCachedBytes, stageMax._2)),
          (Codegen.compileNs - cg0._1) / 1e9, Codegen.compiles - cg0._2)
      }
      val ops = perPass.flatMap(_.ops)
      val k = perPass.size.toDouble
      val metrics =
        if (!args.trace) Layers.endToEnd(perPass)
        else {
          val sinks = outputFiles(args.work.resolve(s"rr-out/pass${perPass.size - 1}"))
          val rr = Stages.flatMap { st =>
            val a = stageSums.getOrElse(st, new Array[Double](4))
            Seq((s"rr.${st}_s", a(0) / k, "s"), (s"rr.${st}_shuffle_mb", a(1) / k, "MB"),
              (s"rr.${st}_task_s", a(2) / k, "s"), (s"rr.${st}_max_task_s", a(3), "s"))
          }
          Layers.common(perPass, phases, cores) ++ Layers.zeroQueries ++ rr ++ Seq(
            ("sink.output_mb", sinks.map(Files.size(_)).sum / Workloads.MB, "MB"),
            ("sink.files", sinks.size.toDouble, "count"))
        }
      if (args.trace) Files.writeString(Main.spansPath(args), tracer.toJson(t0))
      Main.Outcome(ops, metrics, lastCounts)
    }
  }

  /** `RetailRocket.run` one public call at a time: the stages of
    * `RetailRocket.buildAll`, with the same calls, arguments and caches,
    * then run's cache, write and counts. `stage` wraps each stage and
    * forces its output: a cached frame with a count, which fills the
    * cache the untraced run fills on first use; the candidates, which
    * buildAll leaves uncached inside the feature plan, with a full-plan
    * evaluation that the feature stage then repeats. This mirrors
    * buildAll by hand and must follow it when it changes; the test
    * suite compares its output with `RetailRocket.run`'s row for row.
    */
  def staged(s: SparkSession, ev: String, pr: String, out: String)(
      stage: (String, () => Any) => Any): Map[String, Long] = Caches.withScope {
    def at[A](name: String)(f: => A): A = stage(name, () => f).asInstanceOf[A]
    def cached(df: DataFrame): DataFrame = { val c = Caches.cache(df); c.count(); c }
    val events = at("sessionize")(
      cached(RetailRocket.sessionizeEvents(RetailRocket.readEventsCsv(s, ev))))
    val itemCat = at("item_category")(
      cached(RetailRocket.itemCategory(RetailRocket.readPropsCsv(s, Seq(pr)))))
    val splits = at("atc_split") {
      val atc = Caches.cache(RetailRocket.atcEvents(events, itemCat))
      Seq((RetailRocket.TrainStart, RetailRocket.TrainEnd),
        (RetailRocket.TrainEnd, RetailRocket.ValidEnd))
        .map { case (a, b) => cached(RetailRocket.splitByWindow(atc, a, b)) }
    }
    val tm = at("train_matrices") {
      val m = RetailRocket.trainMatrices(events, itemCat, RetailRocket.TrainEnd, cache = true)
      m.productIterator.foreach { case df: org.apache.spark.sql.Dataset[_] => df.count(); case _ => }
      m
    }
    val vectors = at("word2vec")(Embeddings.trainWord2VecOrEmpty(Embeddings.sessionSequences(
      events
        .filter(col("ts") < lit(RetailRocket.TrainEnd).cast("timestamp"))
        .join(broadcast(itemCat), Seq("item_id"))
        .withColumn("epoch_s", unix_timestamp(col("ts")))
        .withColumn("event_id", col("item_id")),
      "category_id")))
    val prefixed = at("candidates")(splits.map { atc =>
      val prefix = cached(RetailRocket.prefixWithCategories(atc, events, itemCat))
      val cands = RetailRocket.candidatesWith(atc, events, itemCat, tm, None, Some(prefix))
      cands.queryExecution.toRdd.count()
      (atc, prefix, cands)
    })
    val Seq(train, valid) = at("features")(prefixed.map { case (atc, prefix, cands) =>
      cached(Embeddings.attachEmbeddings(
        RetailRocket.featuresWith(atc, cands, events, itemCat, tm, None, Some(prefix)),
        vectors, "category_id", dims = 16))
    })
    at("write") {
      Sinks.writeParquet(train, s"$out/X_train_spark.parquet", maxRecordsPerFile = Some(50000L))
      Sinks.writeParquet(valid, s"$out/X_valid_spark.parquet", maxRecordsPerFile = Some(50000L))
    }
    Map(
      "train_rows" -> train.count(), "valid_rows" -> valid.count(),
      "train_positive" -> train.filter(col("y") === 1).count(),
      "valid_positive" -> valid.filter(col("y") === 1).count())
  }

  /** The output check: both matrices read back with the 38-column
    * schema and the row counts the run returned, positives present but
    * rare, and, for a recorded seed, the recorded counts.
    */
  def check(s: SparkSession, out: String, counts: Map[String, Long],
      recorded: Option[Map[String, Long]]): Option[String] = {
    val problems = Seq("train", "valid").flatMap { split =>
      val back = s.read.parquet(s"$out/X_${split}_spark.parquet")
      val schema = back.schema.fields.map(f => f.name -> f.dataType.simpleString).toSeq
      val rows = counts(s"${split}_rows")
      val pos = counts(s"${split}_positive")
      Seq(
        Option.when(schema != Schema)(s"$split schema $schema"),
        Option.when(back.count() != rows)(s"$split parquet rows != $rows"),
        Option.when(!(pos > 0 && pos * 5 < rows))(s"$split positives $pos of $rows")).flatten
    } ++ recorded.filter(_ != counts.view.filterKeys(CountKeys.contains).toMap)
      .map(r => s"counts $counts, recorded $r")
    if (problems.isEmpty) None else Some(problems.mkString("; "))
  }

  /** Recorded counts by seed, for [[Scale]]. */
  def recorded(file: Path): Map[Long, Map[String, Long]] = {
    val root = new com.fasterxml.jackson.databind.ObjectMapper().readTree(file.toFile)
    if (root.get("events").asLong != Scale.events) Map.empty
    else {
      val bySeed = root.get("counts")
      bySeed.fieldNames.asScala.map { seed =>
        seed.toLong -> CountKeys.map(k => k -> bySeed.get(seed).get(k).asLong).toMap
      }.toMap
    }
  }

  private def outputFiles(dir: Path): Seq[Path] =
    if (!Files.exists(dir)) Nil
    else Files.walk(dir).iterator.asScala
      .filter(p => p.getFileName.toString.endsWith(".parquet") && Files.isRegularFile(p)).toSeq
}

/** The metrics every workload reports. */
object Layers {

  /** End-to-end: medians over passes. */
  def endToEnd(passes: Seq[Pass]): Seq[(String, Double, String)] = Seq(
    ("pass_s", Stats.median(passes.map(_.wallS)), "s"),
    ("shuffle_mb", Stats.median(passes.map(_.exec.shuffleBytes / Workloads.MB)), "MB"))

  /** Per layer, as means per pass. */
  def common(passes: Seq[Pass], phases: PhaseTimes, cores: Int): Seq[(String, Double, String)] = {
    val k = passes.size.toDouble
    def sum(f: ExecCounters.Snapshot => Long) = passes.map(p => f(p.exec)).sum.toDouble / k
    val wall = passes.map(_.wallS).sum
    Seq(
      ("trace.pass_s", Stats.median(passes.map(_.wallS)), "s"),
      ("op.p50_s", Stats.percentile(passes.flatMap(_.ops).map(_.latencyS), 50), "s"),
      ("op.p95_s", Stats.percentile(passes.flatMap(_.ops).map(_.latencyS), 95), "s"),
      ("cache.peak_mb", Stats.median(passes.map(_.exec.peakCachedBytes / Workloads.MB)), "MB"),
      ("driver.codegen_s", passes.map(_.codegenS).sum / k, "s"),
      ("driver.codegen_compiles", passes.map(_.codegenCompiles).sum / k, "count"),
      ("driver.jobs", sum(_.jobs), "count"),
      ("driver.analysis_s", phases.seconds("analysis") / k, "s"),
      ("driver.optimization_s", phases.seconds("optimization") / k, "s"),
      ("driver.planning_s", phases.seconds("planning") / k, "s"),
      ("exec.stages", sum(_.stages), "count"),
      ("exec.tasks", sum(_.tasks), "count"),
      ("exec.task_s", sum(_.taskNs) / 1e9, "s"),
      ("exec.max_task_s", Stats.median(passes.map(_.exec.maxTaskNs / 1e9)), "s"),
      ("exec.sched_wait_s", sum(_.schedWaitNs) / 1e9, "s"),
      ("exec.busy_frac", passes.map(_.exec.taskNs).sum / 1e9 / (wall * cores), "ratio"),
      ("exec.gc_s", sum(_.gcNs) / 1e9, "s"),
      ("exec.spill_mb", sum(_.spillBytes) / Workloads.MB, "MB"),
      ("exec.task_failures", sum(_.taskFailures), "count"),
      ("exec.shuffle_mb", sum(_.shuffleBytes) / Workloads.MB, "MB"),
      ("scan.input_mb", sum(_.inputBytes) / Workloads.MB, "MB"),
      ("scan.input_records", sum(_.inputRecords), "count"),
      ("cache.fill_mb", sum(_.fillBytes) / Workloads.MB, "MB"),
      ("cache.blocks", sum(_.fills), "count"))
  }

  /** The query layer's metrics, which the pipeline does not exercise. */
  val zeroQueries: Seq[(String, Double, String)] =
    (Seq("construct", "execute") ++ Contract.Modules.values.toSeq.sorted)
      .map(m => (s"queries.${m}_s", 0.0, "s"))

  /** The pipeline's metrics, which the query contract does not exercise. */
  val zeroRr: Seq[(String, Double, String)] =
    RrPipeline.Stages.flatMap(st => Seq((s"rr.${st}_s", 0.0, "s"),
      (s"rr.${st}_shuffle_mb", 0.0, "MB"), (s"rr.${st}_task_s", 0.0, "s"),
      (s"rr.${st}_max_task_s", 0.0, "s"))) ++
      Seq(("sink.output_mb", 0.0, "MB"), ("sink.files", 0.0, "count"))
}
