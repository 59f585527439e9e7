package cdcbench

import java.nio.file.{Files, Path}
import java.nio.file.attribute.FileTime

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.streaming.Trigger

import graft.pipeline.CdcPipeline
import graft.streaming.CdcStream

/** The three workloads. Each is a closed loop with one client: a file (or
  * a stream trigger) starts only after the previous one committed.
  * Validation reads follow every fifth trickle file, every bulk cycle and
  * every stream round (three there).
  */
object Workloads {

  val SetupReps = 3

  private def keysOf(specs: TableSpec*): Map[String, Seq[String]] =
    specs.map(s => s.name -> s.keys).toMap

  /** The trickle cycle: ten files alternating `orders` (even positions)
    * and `lineitem` (odd), with fixed row counts skewed small. Each table
    * scatters once per cycle (a fifth of the files), and its next file
    * drains the side-store; one `orders` slot re-delivers an earlier file.
    * A validation read of both tables follows every fifth file, each time
    * with one table's scatter still undrained.
    */
  val ReadEvery = 5
  private val TrickleCycle = Vector("small" -> 1, "small" -> 4, "small" -> 12, "scatter" -> 88,
    "small" -> 2, "small" -> 24, "redeliver" -> 0, "small" -> 6, "scatter" -> 96, "small" -> 30)

  /** Units of work in a run: `--seconds` over a nominal cost per unit on
    * a 4-core machine (half a trickle cycle with its read 6.5 s, a bulk
    * cycle 6.5 s, a stream round 6 s). The count depends on `--seconds`
    * alone, so every run of a workload applies the same work and history-
    * dependent figures (space, ledger size) compare like for like.
    */
  private def units(b: Bench, nominalSeconds: Double): Int =
    math.max(1, math.round(b.seconds / nominalSeconds).toInt)

  /** Reference-sized CDC files for `orders` and `lineitem`, one
    * `processFile` call each.
    */
  def trickle(b: Bench): Unit = {
    val orders = new TableModel(Gen.Orders)
    val lineitem = new TableModel(Gen.Lineitem)
    val oRows = b.gen.orders(0.01)
    val lRows = b.gen.lineitem(oRows)
    val loads = Seq(orders -> b.writeLoad(orders, oRows), lineitem -> b.writeLoad(lineitem, lRows))
    orders.load(oRows.iterator)
    lineitem.load(lRows.iterator)
    val models = Seq(orders, lineitem)
    def next(f: CdcFile, m: TableModel) = { Data.writeCdc(f); m.applyBatch(Seq(f)); f }

    // Warm-up: each table adds a safe nullable column (CoW route).
    val warm = models.map { m =>
      next(b.gen.changeFile(m, "w", 5, 0.15, Some(Col(s"${m.spec.name.take(1)}_ext1", Kind.Str))), m)
    }
    val pipe = b.setup(SetupReps) { root =>
      val p = b.pipeline(root, keysOf(Gen.Orders, Gen.Lineitem))
      loads.foreach { case (m, path) => p.initialLoad(m.spec.name, b.spark.read.parquet(path)) }
      warm.foreach(f => b.apply(p, f, expectSkip = false, setup = true))
      p
    }

    val applied = scala.collection.mutable.ArrayBuffer.empty[CdcFile] ++= warm
    var n = 0
    b.checkLedger(pipe)
    val total = ReadEvery * units(b, 6.5)
    while (n < total && b.running) {
      val m = models(n % 2)
      val (kind, rows) = TrickleCycle(n % TrickleCycle.size)
      val f = kind match {
        case "redeliver" => applied(b.gen.int(applied.size))
        case _ => next(b.gen.changeFile(m, "", rows, if (kind == "scatter") 0.1 else 0.15), m)
      }
      b.apply(pipe, f, expectSkip = kind == "redeliver", setup = false,
        Some(b.storeRoot.resolve(s"_morside/${f.table}")))
      if (kind != "redeliver") applied += f
      n += 1
      if (n % ReadEvery == 0) {
        b.validate(pipe, models, timed = true)
        b.checkLedger(pipe)
      }
    }
    finish(b, pipe, models)
  }

  /** A few ~150k-row backfill files against an sf0.1 `orders`, each
    * followed by a 1-row file that drains the side-store.
    */
  def bulk(b: Bench): Unit = {
    val orders = new TableModel(Gen.Orders)
    val oRows = b.gen.orders(0.1)
    val load = b.writeLoad(orders, oRows)
    orders.load(oRows.iterator)
    // Warm-up: the cycle in small, a 2% backfill (MoR route) and its drain.
    val warm = Seq(() => b.gen.bulkFile(orders, 0.02), () => b.gen.changeFile(orders, "w", 1, 0.0))
      .map { g => val f = g(); Data.writeCdc(f); orders.applyBatch(Seq(f)); f }
    val pipe = b.setup(SetupReps) { root =>
      val p = b.pipeline(root, keysOf(Gen.Orders))
      p.initialLoad("orders", b.spark.read.parquet(load))
      warm.foreach(f => b.apply(p, f, expectSkip = false, setup = true))
      p
    }
    val side = Some(b.storeRoot.resolve("_morside/orders"))
    b.checkLedger(pipe)
    (1 to units(b, 6.5)).takeWhile(_ => b.running).foreach { _ =>
      val big = b.gen.bulkFile(orders, 0.55)
      Data.writeCdc(big)
      b.apply(pipe, big, expectSkip = false, setup = false, side)
      orders.applyBatch(Seq(big))
      val one = b.gen.changeFile(orders, "", 1, 0.0)
      Data.writeCdc(one)
      b.apply(pipe, one, expectSkip = false, setup = false, side)
      orders.applyBatch(Seq(one))
      b.validate(pipe, Seq(orders), timed = true)
      b.checkLedger(pipe)
    }
    finish(b, pipe, Seq(orders))
  }

  val RoundFiles = 200
  val MaxFilesPerTrigger = 100
  /** Back-to-back validation reads after each stream round: a read of the
    * small table takes ~0.4 s and one sample per round spread ±20%.
    */
  val ReadsPerRound = 3

  /** Backlogs of `trickle`-style `orders` files, each drained by one
    * `CdcStream.start` with `Trigger.AvailableNow`.
    */
  def stream(b: Bench): Unit = {
    val orders = new TableModel(Gen.Orders)
    val oRows = b.gen.orders(0.01)
    val load = b.writeLoad(orders, oRows)
    orders.load(oRows.iterator)
    var landed = 0
    // Files reach the source in name order with strictly increasing
    // modification times, so each trigger takes the next 100 of them.
    def land(count: Int): Seq[CdcFile] = (1 to count).map { _ =>
      val (kind, rows) = TrickleCycle(landed % TrickleCycle.size)
      val f = b.gen.changeFile(orders, "", math.max(rows, 1), if (kind == "scatter") 0.1 else 0.15)
      Data.writeCdc(f)
      Files.setLastModifiedTime(java.nio.file.Paths.get(f.path),
        FileTime.fromMillis(1791849600000L + landed * 1000L))
      landed += 1
      f
    }
    def expect(files: Seq[CdcFile]): Unit =
      files.grouped(MaxFilesPerTrigger).foreach(orders.applyBatch)
    val schema = Bench.cdcSchema(Gen.Orders.cols)
    val warm = land(40)
    expect(warm)
    var ckpt: Path = null
    def drain(p: CdcPipeline, setup: Boolean, files: Int): Unit = {
      b.attempted += 1
      val cfg = CdcStream.Config(root = b.gen.fairRoot, table = "orders", keys = Gen.Orders.keys,
        storeRoot = b.storeRoot.toString, checkpointRoot = ckpt.toString)
      val (q, span) = b.tracer.span(if (setup) "setup" else "round", Map("files" -> files.toString)) {
        val q = CdcStream.start(b.spark, cfg, schema, Trigger.AvailableNow())
        q.awaitTermination()
        q
      }
      q.exception.foreach(e => b.fail(s"stream round: ${e.getMessage}"))
      val batches = q.recentProgress.filter(_.durationMs.containsKey("addBatch"))
      if (!setup) {
        b.ops += Op(span, "round", files, batches.map(_.numInputRows).sum)
        batches.foreach { p =>
          b.batches += StreamBatch(p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap)
        }
      }
    }
    val pipe = b.setup(SetupReps) { root =>
      ckpt = root.resolve("_checkpoints")
      val p = b.pipeline(root, keysOf(Gen.Orders))
      p.initialLoad("orders", b.spark.read.parquet(load))
      drain(p, setup = true, warm.size)
      p
    }
    b.checkLedger(pipe)
    (1 to units(b, 6.0)).takeWhile(_ => b.running).foreach { _ =>
      val files = land(RoundFiles)
      drain(pipe, setup = false, files.size)
      expect(files)
      (1 to ReadsPerRound).foreach(_ => b.validate(pipe, Seq(orders), timed = true))
      b.checkLedger(pipe)
    }
    finish(b, pipe, Seq(orders))
  }

  /** Known defects of the program, each reproduced on a small `orders`
    * against a model that applies files one at a time. Not a benchmark
    * workload: it exits non-zero while any of them stands.
    *  1. After the MoR side-store holds a base, a file that adds a safe
    *     column makes the next scattered file fail (`delta rejected`).
    *  2. A key inserted by one undrained MoR delta and deleted by the next
    *     is inserted again when the side-store drains.
    *  3. A key inserted and deleted inside one streaming micro-batch is
    *     left in the table.
    */
  def defects(b: Bench): Unit = {
    def fresh(name: String): (TableModel, CdcPipeline) = {
      val m = new TableModel(Gen.Orders)
      val rows = b.gen.orders(0.01)
      m.load(rows.iterator)
      b.storeRoot = b.work.resolve(name)
      val p = b.pipeline(b.storeRoot, keysOf(Gen.Orders))
      p.initialLoad("orders", b.spark.read.parquet(b.writeLoad(m, rows)))
      (m, p)
    }
    def run(p: CdcPipeline, m: TableModel, files: (() => CdcFile)*): Unit = files.foreach { g =>
      val f = g()
      Data.writeCdc(f)
      b.apply(p, f, expectSkip = false, setup = false)
      m.applyBatch(Seq(f))
    }
    val (m1, p1) = fresh("evolve")
    run(p1, m1, () => b.gen.changeFile(m1, "", 90, 0.0), () => b.gen.changeFile(m1, "", 2, 0.0),
      () => b.gen.changeFile(m1, "", 2, 0.0, Some(Col("o_ext1", Kind.Str))),
      () => b.gen.changeFile(m1, "", 90, 0.0))
    val (m2, p2) = fresh("chain")
    run(p2, m2, () => b.gen.bulkFile(m2, 0.02), () => b.gen.bulkFile(m2, 0.5),
      () => b.gen.changeFile(m2, "", 1, 0.0))
    b.validate(p2, Seq(m2), timed = false)

    val (m3, _) = fresh("stream")
    val key = 6000000000L
    val files = Seq("I", "D").zipWithIndex.map { case (op, i) =>
      val f = CdcFile(s"${b.gen.fairRoot}/orders/2026/10/13/8888888$i-orders.parquet", "orders",
        Gen.Orders.cols.toIndexedSeq, IndexedSeq(CdcRow(b.gen.orderRow(key), op, 1900000000000000L + i)))
      Data.writeCdc(f)
      m3.applyBatch(Seq(f))
      f
    }
    val q = CdcStream.start(b.spark, CdcStream.Config(root = b.gen.fairRoot, table = "orders",
      keys = Gen.Orders.keys, storeRoot = b.storeRoot.toString,
      checkpointRoot = b.storeRoot.resolve("_checkpoints").toString,
      pathGlobFilter = "8888888*.parquet"), Bench.cdcSchema(Gen.Orders.cols), Trigger.AvailableNow())
    q.awaitTermination()
    b.validate(b.pipeline(b.storeRoot, keysOf(Gen.Orders)), Seq(m3), timed = false)
  }

  /** Final check of every table against its model, then the space figure. */
  private def finish(b: Bench, pipe: CdcPipeline, models: Seq[TableModel]): Unit = {
    b.mark("final")
    if (b.failures.isEmpty) {
      b.validate(pipe, models, timed = false)
      b.measureSpace(pipe, models.map(_.spec.name))
    }
    if (b.tracer.enabled) b.ledgerEntries = pipe.ledger.records.count()
  }
}
