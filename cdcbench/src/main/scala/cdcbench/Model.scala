package cdcbench

import scala.collection.mutable

/** The expected state of one target table, kept on the driver and written
  * from the pipeline's documented semantics, not from its code:
  *
  *  - a batch keeps one change row per key: the greatest by
  *    (`load_timestamp`, op priority D > U > I, `updated` with NULL as 0,
  *    `created` with NULL as 0, file name, row position in the file);
  *  - a kept row whose key is live deletes it (`D`) or overwrites the
  *    columns the file shares with the table; any other kept row, a
  *    delete of an absent key included, inserts the file's values;
  *  - a file column the table lacks is appended to the table (NULL in
  *    older rows) before the merge.
  *
  * The batch pipeline applies one file per batch; a streaming micro-batch
  * is one batch of many files.
  */
final class TableModel(val spec: TableSpec) {
  val cols: mutable.ArrayBuffer[Col] = mutable.ArrayBuffer(spec.cols: _*)
  val rows: mutable.HashMap[Key, Array[Any]] = mutable.HashMap.empty
  /** Live keys in insertion order, for O(1) uniform picks by the generator. */
  private val keyList = mutable.ArrayBuffer.empty[Key]
  private val keyPos = mutable.HashMap.empty[Key, Int]

  def size: Int = rows.size
  def keyAt(i: Int): Key = keyList(i)

  def keyOf(values: Array[Any], in: Seq[Col]): Key = {
    def at(name: String): Any = values(in.indexWhere(_.name == name))
    spec.keys match {
      case Seq(a) => Key(at(a).asInstanceOf[Long], 0)
      case Seq(a, b) => Key(at(a).asInstanceOf[Long], at(b).asInstanceOf[Int])
    }
  }

  /** Current values of a live key, aligned with [[cols]]. */
  def get(k: Key): Array[Any] = {
    val r = rows(k)
    if (r.length == cols.length) r
    else { val out = new Array[Any](cols.length); Array.copy(r, 0, out, 0, r.length); out }
  }

  private def put(k: Key, r: Array[Any]): Unit = {
    if (!rows.contains(k)) { keyPos(k) = keyList.length; keyList += k }
    rows(k) = r
  }

  private def remove(k: Key): Unit = {
    rows.remove(k)
    val i = keyPos.remove(k).get
    val last = keyList.remove(keyList.length - 1)
    if (last != k) { keyList(i) = last; keyPos(last) = i }
  }

  def load(initial: Iterator[Array[Any]]): Unit =
    initial.foreach(r => put(keyOf(r, cols.toSeq), r))

  def applyBatch(files: Seq[CdcFile]): Unit = {
    files.flatMap(_.cols).foreach { c =>
      if (!cols.exists(_.name == c.name)) cols += c
    }
    // survivor per key by the cascade
    val best = mutable.HashMap.empty[Key, (CdcFile, Int)]
    def rank(f: CdcFile, i: Int) = {
      val r = f.rows(i)
      def long(name: String): Long = f.cols.indexWhere(_.name == name) match {
        case -1 => 0L
        case j => Option(r.values(j)).map(_.asInstanceOf[Long]).getOrElse(0L)
      }
      val prio = r.op match { case "D" => 3; case "U" => 2; case "I" => 1; case _ => 0 }
      (r.loadTs, prio, long("updated"), long("created"), f.name, i)
    }
    val order = Ordering.Tuple6[Long, Int, Long, Long, String, Int]
    for (f <- files; i <- f.rows.indices) {
      val k = keyOf(f.rows(i).values, f.cols)
      best.get(k) match {
        case Some((bf, bi)) if order.gteq(rank(bf, bi), rank(f, i)) =>
        case _ => best(k) = (f, i)
      }
    }
    best.foreach { case (k, (f, i)) =>
      val r = f.rows(i)
      val shared = f.cols.indices.map(j => cols.indexWhere(_.name == f.cols(j).name) -> j)
      if (rows.contains(k)) {
        if (r.op == "D") remove(k)
        else {
          val cur = get(k).clone()
          shared.foreach { case (t, s) =>
            if (!spec.keys.contains(cols(t).name)) cur(t) = r.values(s) }
          put(k, cur)
        }
      } else {
        val fresh = new Array[Any](cols.length)
        shared.foreach { case (t, s) => fresh(t) = r.values(s) }
        put(k, fresh)
      }
    }
  }

  /** Exact order-independent checksum: the sum of every row's xxhash64. */
  def checksum: BigInt = {
    val cs = cols.toSeq
    rows.valuesIterator.foldLeft(BigInt(0))((acc, r) => acc + Data.rowHash(r, cs))
  }
}
