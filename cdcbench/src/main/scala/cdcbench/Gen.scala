package cdcbench

import java.util.SplittableRandom

import Kind._

/** Seeded input generator. Everything the benchmark feeds the pipeline
  * comes from one [[Gen]] on one thread, so a seed fixes every table row,
  * every change row and every file name. Change rows are drawn against the
  * current [[TableModel]], which the caller advances after each file or
  * batch is applied.
  */
final class Gen(seed: Long, val fairRoot: String) {
  private val rnd = new SplittableRandom(seed)

  private var freshKeys = 0L
  private var absentKeys = 0L
  /** load_timestamp of the next file, in microseconds; one second apart. */
  private var nextFileTs = 1791849600000000L // 2026-10-13T00:00:00Z

  private val words = Seq("quick", "final", "regular", "ironic", "pending",
    "express", "careful", "silent", "bold", "even", "furious", "special")
  private def comment(): String =
    Seq.fill(2 + rnd.nextInt(3))(words(rnd.nextInt(words.size))).mkString(" ")
  private def price(): Double = (100000 + rnd.nextInt(50000000)) / 100.0
  private def epochOrNull(base: Long): Any =
    if (rnd.nextInt(10) == 0) null else base + rnd.nextInt(86400)

  def orderRow(key: Long): Array[Any] = {
    val created = 1600000000L + rnd.nextInt(100000000)
    Array[Any](key, 1L + rnd.nextInt(150000), Seq("O", "F", "P")(rnd.nextInt(3)), price(),
      8035 + rnd.nextInt(2557), Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")(rnd.nextInt(5)),
      f"Clerk#${rnd.nextInt(1000)}%09d", 0, comment(),
      if (rnd.nextInt(10) == 0) null else created, epochOrNull(created))
  }

  def lineRow(orderKey: Long, line: Int): Array[Any] = {
    val qty = (1 + rnd.nextInt(50)).toDouble
    val created = 1600000000L + rnd.nextInt(100000000)
    Array[Any](orderKey, line, 1L + rnd.nextInt(200000), 1L + rnd.nextInt(10000), qty,
      qty * (900 + rnd.nextInt(100000)) / 100.0, rnd.nextInt(11) / 100.0,
      Seq("R", "A", "N")(rnd.nextInt(3)), Seq("O", "F")(rnd.nextInt(2)),
      8035 + rnd.nextInt(2557), comment(),
      if (rnd.nextInt(10) == 0) null else created, epochOrNull(created))
  }

  /** TPC-H-shaped `orders` at scale factor `sf`: 1.5M × sf rows. */
  def orders(sf: Double): IndexedSeq[Array[Any]] =
    (0 until (1500000 * sf).toInt).map(i => orderRow(1L + 4L * i))

  /** TPC-H-shaped `lineitem` for the given orders: 1 to 7 lines each. */
  def lineitem(orders: Seq[Array[Any]]): IndexedSeq[Array[Any]] =
    orders.iterator.flatMap { o =>
      val k = o(0).asInstanceOf[Long]
      (1 to 1 + rnd.nextInt(7)).map(l => lineRow(k, l))
    }.toIndexedSeq

  private def freshRow(m: TableModel, absent: Boolean): Array[Any] = {
    val k = if (absent) { absentKeys += 1; 3000000000L + absentKeys }
            else { freshKeys += 1; 2000000000L + freshKeys }
    if (m.spec.name == "orders") orderRow(k) else lineRow(k, 1 + rnd.nextInt(7))
  }

  /** A changed copy of a live row: status, amounts, comment, `updated`. */
  private def changed(m: TableModel, cur: Array[Any], ts: Long): Array[Any] = {
    val r = cur.clone()
    def set(name: String, v: Any): Unit = {
      val i = m.cols.indexWhere(_.name == name)
      if (i >= 0) r(i) = v
    }
    if (m.spec.name == "orders") {
      set("o_orderstatus", Seq("O", "F", "P")(rnd.nextInt(3)))
      set("o_totalprice", price())
      set("o_comment", comment())
    } else {
      set("l_quantity", (1 + rnd.nextInt(50)).toDouble)
      set("l_extendedprice", price())
      set("l_linestatus", Seq("O", "F")(rnd.nextInt(2)))
      set("l_comment", comment())
    }
    set("updated", epochOrNull(ts / 1000000L))
    m.cols.indices.filter(i => m.cols(i).name.matches(".*_ext\\d+")).foreach { i =>
      r(i) = if (rnd.nextInt(4) == 0) null else comment()
    }
    r
  }

  /** The file's columns: the table's, plus `extra` (a safe new column). */
  private def fileCols(m: TableModel, extra: Option[Col]): IndexedSeq[Col] =
    m.cols.toIndexedSeq ++ extra

  private def align(r: Array[Any], width: Int): Array[Any] =
    if (r.length == width) r
    else { val out = new Array[Any](width); Array.copy(r, 0, out, 0, math.min(width, r.length)); out }

  /** One change file of `n` row slots for table `m`:
    *  - updates (60%) and deletes (15%) of live keys, inserts of fresh
    *    keys (18%) and deletes of keys the table never held (7%);
    *  - with probability `dupP` a row is followed by a second change of
    *    its key that ties the first on a prefix of the dedup cascade
    *    (later load_timestamp; same ts, other op; same op, other
    *    `updated`; same `updated`, other `created`; a full tie).
    * `extraCol` adds a safe nullable column to this and later files;
    * `prefix` starts the file name.
    */
  def changeFile(m: TableModel, prefix: String, n: Int, dupP: Double,
      extraCol: Option[Col] = None): CdcFile = {
    val cols = fileCols(m, extraCol)
    val width = cols.length
    val ts = nextFileTs
    nextFileTs += 1000000L
    val name = f"${(ts / 1000000L) % 100000000L}%08d-${m.spec.name}.parquet"
    val rows = IndexedSeq.newBuilder[CdcRow]
    var slots = n
    val updIdx = cols.indexWhere(_.name == "updated")
    val creIdx = cols.indexWhere(_.name == "created")
    while (slots > 0) {
      val p = rnd.nextDouble()
      val rowTs = ts + rnd.nextInt(3) * 1000L
      val first =
        if (p < 0.75 && m.size > 0) {
          val cur = m.get(m.keyAt(rnd.nextInt(m.size)))
          if (p < 0.60) CdcRow(align(changed(m, cur, ts), width), "U", rowTs)
          else CdcRow(align(cur.clone(), width), "D", rowTs)
        } else if (p < 0.93) CdcRow(align(freshRow(m, absent = false), width), "I", rowTs)
        else CdcRow(align(freshRow(m, absent = true), width), "D", rowTs)
      extraCol.foreach(_ => first.values(width - 1) = comment())
      rows += first
      slots -= 1
      if (slots > 0 && rnd.nextDouble() < dupP) {
        val v = first.values.clone()
        v(cols.indexWhere(_.name == (if (m.spec.name == "orders") "o_comment" else "l_comment"))) = comment()
        val second = rnd.nextInt(5) match {
          case 0 => CdcRow(v, "U", first.loadTs + 1000L)
          case 1 => CdcRow(v, first.op match { case "U" => "D"; case "I" => "U"; case _ => "U" }, first.loadTs)
          case 2 =>
            val u = Option(v(updIdx)).map(_.asInstanceOf[Long]).getOrElse(0L)
            v(updIdx) = u + (if (rnd.nextBoolean()) 7L else -7L)
            CdcRow(v, first.op, first.loadTs)
          case 3 =>
            val c = Option(v(creIdx)).map(_.asInstanceOf[Long]).getOrElse(0L)
            v(creIdx) = c + (if (rnd.nextBoolean()) 3L else -3L)
            CdcRow(v, first.op, first.loadTs)
          case _ => CdcRow(v, first.op, first.loadTs)
        }
        rows += second
        slots -= 1
      }
    }
    CdcFile(s"$fairRoot/${m.spec.name}/2026/10/13/$prefix$name", m.spec.name, cols, rows.result())
  }

  /** A bulk change file in the style of a backfill: every live key is
    * touched with probability `share`; touched keys get one update, an
    * update pair with later load_timestamp, an update+delete tie, or a
    * delete; plus fresh inserts and deletes of absent keys.
    */
  def bulkFile(m: TableModel, share: Double): CdcFile = {
    val cols = fileCols(m, None)
    val ts = nextFileTs
    nextFileTs += 1000000L
    val rows = IndexedSeq.newBuilder[CdcRow]
    var i = 0
    val live = m.size
    while (i < live) {
      if (rnd.nextDouble() < share) {
        val cur = m.get(m.keyAt(i))
        rnd.nextInt(4) match {
          case 0 => rows += CdcRow(changed(m, cur, ts), "U", ts)
          case 1 =>
            rows += CdcRow(changed(m, cur, ts), "U", ts)
            rows += CdcRow(changed(m, cur, ts), "U", ts + 1000L)
          case 2 =>
            rows += CdcRow(changed(m, cur, ts), "U", ts)
            rows += CdcRow(cur.clone(), "D", ts)
          case _ => rows += CdcRow(cur.clone(), "D", ts)
        }
      }
      i += 1
    }
    val extra = (live * share * 0.25).toInt
    (0 until extra).foreach(_ => rows += CdcRow(freshRow(m, absent = false), "I", ts))
    (0 until extra / 4).foreach(_ => rows += CdcRow(freshRow(m, absent = true), "D", ts))
    val name = f"${(ts / 1000000L) % 100000000L}%08d-bulk.parquet"
    CdcFile(s"$fairRoot/${m.spec.name}/2026/10/13/$name", m.spec.name, cols, rows.result())
  }

  def int(bound: Int): Int = rnd.nextInt(bound)
}

object Gen {
  val Orders: TableSpec = TableSpec("orders", Seq("o_orderkey"), Seq(
    Col("o_orderkey", Lng), Col("o_custkey", Lng), Col("o_orderstatus", Str),
    Col("o_totalprice", Dbl), Col("o_orderdate", Date), Col("o_orderpriority", Str),
    Col("o_clerk", Str), Col("o_shippriority", Int32), Col("o_comment", Str),
    Col("created", Lng), Col("updated", Lng)))

  val Lineitem: TableSpec = TableSpec("lineitem", Seq("l_orderkey", "l_linenumber"), Seq(
    Col("l_orderkey", Lng), Col("l_linenumber", Int32), Col("l_partkey", Lng),
    Col("l_suppkey", Lng), Col("l_quantity", Dbl), Col("l_extendedprice", Dbl),
    Col("l_discount", Dbl), Col("l_returnflag", Str), Col("l_linestatus", Str),
    Col("l_shipdate", Date), Col("l_comment", Str), Col("created", Lng), Col("updated", Lng)))
}
