package cdcbench

import java.nio.file.{Files, Path}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, StructField, StructType}

import graft.config.TableKeys
import graft.pipeline.CdcPipeline

/** What one operation of a workload did. `files` counts files applied or
  * skipped, `rows` the change rows ingested.
  */
final case class Op(span: Span, kind: String, files: Int, rows: Long,
    outcome: String = "", route: String = "", drained: Boolean = false) {
  def seconds: Double = (span.end - span.start) / 1e6
}

/** One streaming micro-batch's `durationMs`. */
final case class StreamBatch(durationMs: Map[String, Long])

/** State shared by the workloads: the session, the tracer, the run's
  * scratch directory and everything measured so far.
  */
final class Bench(val spark: SparkSession, val tracer: Tracer, val work: Path,
    val seed: Long, val seconds: Int) {
  val gen = new Gen(seed, work.resolve("in/fair").toString)
  val ops = mutable.ArrayBuffer.empty[Op]
  val batches = mutable.ArrayBuffer.empty[StreamBatch]
  val setupReps = mutable.ArrayBuffer.empty[Double]
  val failures = mutable.ArrayBuffer.empty[String]
  var attempted = 0L
  /** Timed `FileLedger.isProcessed` of an unseen key, at checkpoints. */
  val ledgerChecks = mutable.ArrayBuffer.empty[Double]
  val chainLengths = mutable.ArrayBuffer.empty[Int]
  var ledgerEntries = 0L
  var spaceAmp = Double.NaN
  var storeRoot: Path = _
  /** Wall-clock marks of the run's phases, for the report. */
  val marks = mutable.LinkedHashMap.empty[String, Long]
  def mark(phase: String): Unit = marks(phase) = Clock.micros

  def timed: Seq[Op] = ops.filterNot(_.kind == "setup").toSeq
  def timedSeconds: Double = timed.map(_.seconds).sum
  /** Go on while nothing failed and the run stays far inside its time
    * limit, whatever the machine's speed.
    */
  def running: Boolean = failures.isEmpty && timedSeconds < 6 * seconds

  def fail(msg: String): Unit = {
    failures += msg
    System.err.println(s"[cdcbench] FAILURE: $msg")
  }

  def pipeline(root: Path, keys: Map[String, Seq[String]]): CdcPipeline =
    new CdcPipeline(spark, root.toString,
      TableKeys(keys.map { case (t, k) => t -> Some(k) }))

  /** Write a full-load file for `model`'s table and return its path. */
  def writeLoad(m: TableModel, rows: Seq[Array[Any]]): String = {
    val p = work.resolve(s"load/${m.spec.name}/LOAD00000001.parquet")
    Data.writeParquet(p, m.cols.toSeq, rows.iterator)
    p.toString
  }

  /** `processFile` inside a span, checked against the expected outcome. */
  def apply(pipe: CdcPipeline, f: CdcFile, expectSkip: Boolean, setup: Boolean,
      sideRoot: Option[Path] = None): Op = {
    attempted += 1
    val chainBefore = if (tracer.enabled) sideRoot.map(Bench.chainLength).getOrElse(0) else 0
    val (out, span) = tracer.span(if (setup) "setup" else "apply",
      Map("file" -> f.name, "table" -> f.table, "rows" -> f.rows.size.toString)) {
      pipe.processFile(f.path)
    }
    val (outcome, route) = out match {
      case CdcPipeline.Applied(_, touched, _) => ("applied", if (touched == 0) "mor" else "cow")
      case CdcPipeline.Skipped(_) => ("skipped", "")
      case CdcPipeline.Failed(_, e) => ("failed", s"${e.getClass.getSimpleName}: ${e.getMessage}")
    }
    if (outcome == "failed") fail(s"${f.name}: $route")
    else if ((outcome == "skipped") != expectSkip) fail(s"${f.name}: unexpected outcome $outcome")
    if (tracer.enabled) sideRoot.foreach(r => chainLengths += Bench.chainLength(r))
    val op = Op(span, if (setup) "setup" else "apply", 1,
      if (outcome == "applied") f.rows.size.toLong else 0L, outcome,
      if (outcome == "applied") route else "", route == "cow" && chainBefore > 0)
    ops += op
    op
  }

  /** A validation read of `models`' tables: `readTable`, then count,
    * distinct keys, NULL keys and the exact checksum, compared with each
    * model.
    */
  def validate(pipe: CdcPipeline, models: Seq[TableModel], timed: Boolean): Unit = {
    attempted += 1
    val (got, span) = tracer.span(if (timed) "read" else "check") {
      models.map(m => Bench.summarize(pipe.readTable(m.spec.name), m))
    }
    if (timed) ops += Op(span, "read", 0, 0L)
    models.zip(got).foreach { case (m, g) =>
      val want = (m.size.toLong, m.size.toLong, 0L, m.checksum, m.cols.map(_.name).toSet)
      if (g != want) fail(s"${m.spec.name} read after ${ops.count(_.kind == "apply")} files: " +
        s"got (rows, keys, null keys, checksum, columns) = $g, model says $want")
    }
  }

  /** Timed ledger check of a key no file has, outside every operation. */
  def checkLedger(pipe: CdcPipeline): Unit = if (tracer.enabled) {
    val t0 = System.nanoTime()
    if (pipe.ledger.isProcessed(s"/never/seen/${ledgerChecks.size}.parquet"))
      fail("ledger reports an unseen key as processed")
    ledgerChecks += (System.nanoTime() - t0) / 1e9
  }

  /** Set up `reps` times from scratch (fresh store root each time) and
    * keep the last store for the timed phase. Returns its pipeline.
    */
  def setup(reps: Int)(once: Path => CdcPipeline): CdcPipeline = {
    var last: CdcPipeline = null
    mark("setup")
    (1 to reps).foreach { r =>
      if (storeRoot != null) Bench.deleteTree(storeRoot)
      storeRoot = work.resolve(s"store$r")
      val t0 = Clock.micros
      last = once(storeRoot)
      setupReps += (Clock.micros - t0) / 1e6
    }
    mark("timed")
    last
  }

  /** Bytes under the store root over the bytes of the final tables
    * written once as compact Parquet.
    */
  def measureSpace(pipe: CdcPipeline, tables: Seq[String]): Unit = {
    val compact = work.resolve("compact")
    tables.foreach { t =>
      pipe.readTable(t).coalesce(1).write.mode("overwrite").parquet(compact.resolve(t).toString)
    }
    def parquetBytes(p: Path) = Bench.files(p).filter(_.toString.endsWith(".parquet")).map(Files.size).sum
    spaceAmp = Bench.files(storeRoot).map(Files.size).sum.toDouble / parquetBytes(compact)
  }
}

object Bench {
  def summarize(t: DataFrame, m: TableModel): (Long, Long, Long, BigInt, Set[String]) = {
    val keys = m.spec.keys.map(col)
    val cols = m.cols.map(_.name).filter(t.columns.contains)
    val r = t.agg(
      count(lit(1)),
      count_distinct(struct(keys: _*)),
      count(when(keys.map(_.isNull).reduce(_ || _), lit(1))),
      sum(xxhash64(cols.map(col).toSeq: _*).cast(DecimalType(38, 0)))).head()
    (r.getLong(0), r.getLong(1), r.getLong(2),
      Option(r.getDecimal(3)).map(d => BigInt(d.toBigInteger)).getOrElse(BigInt(0)),
      t.columns.toSet)
  }

  def files(root: Path): Seq[Path] =
    if (!Files.exists(root)) Nil
    else {
      val s = Files.walk(root)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).toList finally s.close()
    }

  def deleteTree(root: Path): Unit = if (Files.exists(root)) {
    val s = Files.walk(root)
    try s.iterator().asScala.toList.reverse.foreach(Files.deleteIfExists) finally s.close()
  }

  /** Undrained deltas in a MoR side-store: the visible generations logged
    * after its newest base, read from the store's log files.
    */
  def chainLength(side: Path): Int = {
    val log = side.resolve("_log")
    if (!Files.isDirectory(log)) 0
    else {
      val ptr = side.resolve("_latest")
      val last = if (Files.exists(ptr)) new String(Files.readAllBytes(ptr), "UTF-8").trim.toLong
                 else Long.MaxValue
      val gens = files(log).map(_.getFileName.toString).filter(_.endsWith(".json"))
        .map(_.stripSuffix(".json").toLong).filter(_ <= last).sorted
      val kinds = gens.map(g => new String(Files.readAllBytes(log.resolve(s"$g.json")), "UTF-8")
        .contains("\"kind\":\"base\""))
      kinds.reverse.takeWhile(!_).size
    }
  }

  /** The Spark schema of a CDC file with these row columns. */
  def cdcSchema(cols: Seq[Col]): StructType =
    StructType(Data.cdcColumns(cols).map(c => StructField(c.name, c.kind.sparkType, nullable = true)))
}
