package cdcbench

import java.nio.file.{Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** Entry point:
  * `Main --workload trickle|bulk|stream|defects --seed N --seconds S --trace 0|1 --work DIR`.
  *
  * Prints a readable report, then as its last line one JSON object with
  * `correct`, `attempted`, `failed` and `metrics`: the end-to-end metrics
  * with `--trace 0`, the per-layer metrics with `--trace 1`. Exits 1 when
  * any operation failed or any read disagreed with the model.
  */
object Main {

  final case class Metric(name: String, value: Double, unit: String)

  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = args("workload")
    val seed = args("seed").toLong
    val seconds = args("seconds").toInt
    val trace = args.getOrElse("trace", "0") == "1"
    val work = Paths.get(args("work")).toAbsolutePath
    val run = s"$workload-$seed-${if (trace) "traced" else "untraced"}"

    val t0 = Clock.micros
    val spark = session(work)
    val sessionS = (Clock.micros - t0) / 1e6
    val tracer = new Tracer(spark.sparkContext, trace, run)
    tracer.install(spark)
    val b = new Bench(spark, tracer, work, seed, seconds)
    b.mark("inputs")
    try {
      workload match {
        case "trickle" => Workloads.trickle(b)
        case "bulk" => Workloads.bulk(b)
        case "stream" => Workloads.stream(b)
        case "defects" => Workloads.defects(b)
        case other => throw new IllegalArgumentException(s"unknown workload $other")
      }
    } catch {
      case e: Exception =>
        e.printStackTrace()
        b.fail(s"${e.getClass.getSimpleName}: ${e.getMessage}")
    }
    b.mark("end")
    tracer.drain()
    val cached = spark.sparkContext.getPersistentRDDs.size
    args.get("trace-out").filter(_ => trace).foreach(p => tracer.write(Paths.get(p)))

    val report = Report(b, workload, sessionS, cached)
    report.lines.foreach(l => println(s"[cdcbench] $l"))
    val metrics = if (trace) report.perLayer else report.endToEnd
    val correct = b.failures.isEmpty
    val json = metrics.map { m =>
      val v = if (m.value.isNaN || m.value.isInfinite) 0.0 else m.value
      s""""${m.name}": {"value": $v, "unit": "${m.unit}"}"""
    }.mkString(", ")
    println(s"""{"correct": $correct, "attempted": ${math.max(1L, b.attempted)}, """ +
      s""""failed": ${b.failures.size}, "metrics": {$json}}""")
    System.out.flush()
    spark.stop()
    sys.exit(if (correct) 0 else 1)
  }

  /** The session `graft.Bench` uses, sized to this machine. */
  def session(work: Path): SparkSession = {
    val cpus = sys.env.get("SPARK_GRAFT_CPUS").filter(_.nonEmpty)
      .getOrElse(Runtime.getRuntime.availableProcessors.toString)
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("cdcbench")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .config("spark.scheduler.mode", "FAIR")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}

/** Every figure of one run, computed from the operations and the trace. */
final case class Report(b: Bench, workload: String, sessionS: Double, cachedRdds: Int) {
  import Main.Metric

  private val timed = b.timed
  private val applies = timed.filter(_.kind == "apply")
  private val reads = timed.filter(_.kind == "read")
  private val rounds = timed.filter(_.kind == "round")
  /** Latency samples of the workload's unit of work: a `processFile`
    * call, or one streaming micro-batch.
    */
  private val opSeconds: Seq[Double] =
    if (workload == "stream") b.batches.map(_.durationMs.getOrElse("triggerExecution", 0L) / 1000.0).toSeq
    else applies.map(_.seconds)
  private val wall = b.timedSeconds
  private val files = (applies ++ rounds).map(_.files).sum
  private val rows = (applies ++ rounds).map(_.rows).sum
  private def med(xs: Seq[Double]) = if (xs.isEmpty) Double.NaN else Stats.median(xs)

  val endToEnd: Seq[Metric] = Seq(
    Metric("setup_s", sessionS + med(b.setupReps.toSeq), "s"),
    Metric("apply_p50_s", med(opSeconds), "s"),
    Metric("read_p50_s", med(reads.map(_.seconds)), "s"),
    Metric("files_per_s", files / wall, "1/s"),
    Metric("rows_per_s", rows / wall, "1/s"),
    Metric("space_amp", b.spaceAmp, "ratio"))

  private def failedFrac = b.failures.size.toDouble / math.max(1L, b.attempted)

  // ── per-layer, from the trace ───────────────────────────────────────
  private val jobs = b.tracer.jobs.values.asScala.toSeq
  private val timedSpans = timed.map(_.span.id).toSet
  private val timedJobs = jobs.filter(j => timedSpans(j.span))
  /** Per applied file; per micro-batch on `stream`. */
  private val perUnit = math.max(1, if (workload == "stream") b.batches.size
    else applies.count(_.outcome == "applied"))
  private def interval(j: JobRec) = (j.start, if (j.end < 0) j.start else j.end)

  private def layerMetrics(layer: String): Seq[Metric] = {
    val js = timedJobs.filter(_.layer == layer)
    Seq(
      Metric(s"$layer.jobs", js.size.toDouble / perUnit, "count"),
      Metric(s"$layer.busy_s", Stats.unionLength(js.map(interval)) / 1e6 / perUnit, "s"),
      Metric(s"$layer.task_s", js.map(_.taskMs.get).sum / 1e3 / perUnit, "s"),
      Metric(s"$layer.shuffle_mb", js.map(_.shuffleBytes.get).sum / 1048576.0 / perUnit, "MB"))
  }

  /** Jobs per operation, and the operation's wall not covered by a job. */
  private val opUnits: Seq[(Op, Int, Double)] = (if (workload == "stream") rounds else applies).map { op =>
    val js = jobs.filter(_.span == op.span.id)
    val covered = Stats.unionLength(js.map { j =>
      val (s, e) = interval(j)
      (math.max(s, op.span.start), math.min(e, op.span.end))
    })
    (op, js.size, (op.span.end - op.span.start - covered) / 1e6)
  }
  private def jobsPerFile(units: Seq[(Op, Int, Double)]) =
    units.map(_._2).sum.toDouble / math.max(1, units.map(_._1.files).sum)

  private val tenths = Stats.slices(opUnits, math.min(10, opUnits.size)).filter(_.nonEmpty)
  private val applied = applies.filter(_.outcome == "applied")
  private def share(p: Op => Boolean) = applied.count(p).toDouble / math.max(1, applied.size)
  private def batchMean(key: String) =
    if (b.batches.isEmpty) 0.0 else b.batches.map(_.durationMs.getOrElse(key, 0L)).sum / 1e3 / b.batches.size
  private val allTimedJobs = math.max(1, timedJobs.size)

  val perLayer: Seq[Metric] = Layers.All.flatMap(layerMetrics) ++ Seq(
    Metric("pipeline.jobs_per_file", jobsPerFile(opUnits), "count"),
    Metric("pipeline.jobs_growth",
      if (tenths.isEmpty) 0.0 else jobsPerFile(tenths.last) - jobsPerFile(tenths.head), "count"),
    Metric("pipeline.driver_s",
      opUnits.map(_._3).sum / math.max(1, if (workload == "stream") b.batches.size else opUnits.size), "s"),
    Metric("planner.route_cow", share(_.route == "cow"), "ratio"),
    Metric("planner.route_mor", share(_.route == "mor"), "ratio"),
    Metric("planner.drains", share(_.drained), "ratio"),
    Metric("mor.chain_max", b.chainLengths.maxOption.getOrElse(0).toDouble, "count"),
    Metric("ledger.entries", b.ledgerEntries.toDouble, "count"),
    Metric("ledger.check_s", med(b.ledgerChecks.toSeq), "s"),
    Metric("ledger.check_growth",
      if (b.ledgerChecks.size < 2) 1.0 else b.ledgerChecks.last / b.ledgerChecks.head, "ratio"),
    Metric("stream.batches", b.batches.size.toDouble, "count"),
    Metric("stream.add_batch_s", batchMean("addBatch"), "s"),
    Metric("stream.get_batch_s", batchMean("getBatch"), "s"),
    Metric("stream.wal_commit_s", batchMean("walCommit"), "s"),
    Metric("stream.commit_offsets_s", batchMean("commitOffsets"), "s"),
    Metric("stream.latest_offset_s", batchMean("latestOffset"), "s"),
    Metric("session.cached_rdds", cachedRdds.toDouble, "count"),
    Metric("session.unattributed_share", timedJobs.count(_.layer == "other").toDouble / allTimedJobs, "ratio"),
    Metric("trace.overhead_frac", b.tracer.listenerNanos.get / 1e9 / math.max(1e-9, wall), "ratio"))

  /** The readable report: both metric sets, sample counts, and cost by
    * tenth of the run.
    */
  def lines: Seq[String] = {
    val head = f"workload=$workload seed=${b.seed} cpus=${b.spark.sparkContext.defaultParallelism} " +
      f"trace=${b.tracer.enabled} timed_wall_s=$wall%.3f files=$files rows=$rows " +
      f"ops=${opSeconds.size} reads=${reads.size} setup_reps=${b.setupReps.map(x => f"$x%.3f").mkString("/")} " +
      f"session_s=$sessionS%.3f"
    val tail = Stats.tail(opSeconds, 0.9).fold(identity, v => f"apply_p90_s = $v%.6f s (n=${opSeconds.size})")
    val growth = tenths.zipWithIndex.map { case (t, i) =>
      f"tenth ${i + 1}: ops=${t.size} apply_p50_s=${Stats.median(t.map(_._1.seconds))}%.4f" +
        (if (b.tracer.enabled) f" jobs_per_file=${jobsPerFile(t)}%.2f" else "")
    }
    val e2e = endToEnd.map(m => f"${m.name} = ${m.value}%.6f ${m.unit} (n=${
      m.name match {
        case "apply_p50_s" => opSeconds.size
        case "read_p50_s" => reads.size
        case "setup_s" => b.setupReps.size
        case _ => 1
      }})")
    val layer = if (b.tracer.enabled) perLayer.map(m => f"${m.name} = ${m.value}%.6f ${m.unit}") else Nil
    val phases = b.marks.toSeq.sliding(2).collect { case Seq((a, t0), (_, t1)) =>
      f"$a=${(t1 - t0) / 1e6}%.2f" }.mkString("phases_s: ", " ", "")
    Seq(head, phases) ++ e2e ++ Seq(tail, f"failed_frac = $failedFrac%.6f ratio (${b.failures.size} of ${b.attempted})") ++
      growth ++ layer ++ b.failures.map("failure: " + _)
  }
}
