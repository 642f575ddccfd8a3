package graft.cdcbench

/** Aggregate facts about a set of CDC rows, recorded by the generator while
  * it writes the Avro files and recomputed from what the program produced
  * (converted Parquet, catalog query results). Every key has a Spark SQL
  * expression over the flattened columns; the generator computes the same
  * key from the values it wrote, so the two sides never share code.
  */
object Invariants {
  type Inv = Map[String, BigDecimal]

  /** Keys every shape records. */
  val Base: Seq[(String, String)] = Seq(
    "rows" -> "count(1)",
    "sum_id" -> "coalesce(sum(id), 0)",
    "sum_qty" -> "coalesce(sum(cast(qty AS BIGINT)), 0)",
    "null_name" -> "count_if(name IS NULL)",
    "n_insert" -> "count_if(source_metadata.change_type = 'INSERT')",
    "n_update" -> "count_if(source_metadata.change_type = 'UPDATE')",
    "n_delete" -> "count_if(source_metadata.change_type = 'DELETE')",
    "n_is_deleted" -> "count_if(source_metadata.is_deleted)",
    "sum_tx" -> "coalesce(sum(source_metadata.tx_id), 0)",
    "sum_price" -> "coalesce(sum(price), 0)",
    "sum_created" -> "coalesce(sum(cast(unix_micros(created_at) AS DECIMAL(38, 0))), 0)",
  )

  /** Extra keys of the wide shape. */
  val Wide: Seq[(String, String)] = Seq(
    "sum_score" -> "coalesce(sum(cast(score AS BIGINT)), 0)",
    "sum_opened" -> "coalesce(sum(unix_date(opened_on)), 0)",
    "sum_updated" -> "coalesce(sum(cast(unix_micros(updated_at) AS DECIMAL(38, 0))), 0)",
    "sum_tags" -> "coalesce(sum(size(tags)), 0)",
    "sum_attrs" -> "coalesce(sum(size(attrs)), 0)",
    "null_note" -> "count_if(note IS NULL)",
  )

  def exprsFor(keys: Iterable[String]): Seq[(String, String)] = {
    val all = (Base ++ Wide).toMap
    keys.toSeq.sorted.map(k => k -> all(k))
  }

  def sum(invs: Iterable[Inv]): Inv =
    invs.foldLeft(Map.empty[String, BigDecimal]) { (acc, inv) =>
      inv.foldLeft(acc) { case (a, (k, v)) => a.updated(k, a.getOrElse(k, BigDecimal(0)) + v) }
    }

  /** Human-readable mismatches; empty when `actual` agrees on every
    * expected key. Values compare numerically (scale-insensitive).
    */
  def diff(expected: Inv, actual: Inv): Seq[String] =
    expected.keys.toSeq.sorted.flatMap { k =>
      actual.get(k) match {
        case Some(v) if v.compare(expected(k)) == 0 => None
        case other => Some(s"$k expected ${expected(k)} got ${other.getOrElse("missing")}")
      }
    }

  def encode(inv: Inv): String =
    inv.toSeq.sortBy(_._1).map { case (k, v) => s"$k=${v.bigDecimal.toPlainString}" }.mkString(";")

  def decode(s: String): Inv =
    if (s.isEmpty) Map.empty
    else s.split(';').map { kv =>
      val i = kv.indexOf('=')
      kv.substring(0, i) -> BigDecimal(kv.substring(i + 1))
    }.toMap
}
