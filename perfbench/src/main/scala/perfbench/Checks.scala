package perfbench

/** Output checks. Each returns None when the result is right, or the
  * first fault found. They take plain Scala values, so the self-test can
  * feed them corrupted results without Spark.
  */
object Checks {
  def near(a: Double, b: Double): Boolean =
    a == b || math.abs(a - b) <= 1e-7 * math.max(math.abs(a), math.abs(b)) + 1e-6

  /** SCD1 table (or the `keys` subset of it) against the model state. */
  def scd1(expected: Map[Long, Cur], actual: Seq[Scd1Row],
      keys: Option[Set[Long]] = None): Option[String] = {
    val inScope = (k: Long) => keys.forall(_.contains(k))
    val dup = actual.groupBy(_.key).collectFirst { case (k, rs) if rs.size > 1 => k }
    if (dup.nonEmpty) return Some(s"key ${dup.get} appears more than once")
    val got = actual.map(r => r.key -> r).toMap
    got.values.foreach { r =>
      if (!inScope(r.key)) return Some(s"key ${r.key} was not asked for")
      expected.get(r.key) match {
        case None => return Some(s"unknown key ${r.key}")
        case Some(c) if c.deleted =>
          return Some(s"deleted key ${r.key} is visible (seq ${r.seq})")
        case Some(c) if c.seq != r.seq || !near(c.value, r.value) ||
            c.props != r.props =>
          return Some(s"stale value for key ${r.key}: seq ${r.seq} " +
            s"value ${r.value}, expected seq ${c.seq} value ${c.value}")
        case _ => ()
      }
    }
    expected.collectFirst {
      case (k, c) if !c.deleted && inScope(k) && !got.contains(k) => k
    }.map(k => s"key $k is missing")
  }

  /** Validity windows of each key are ordered and do not overlap, and
    * exactly the last one is current.
    */
  def scd2Intervals(rows: Seq[Scd2Row]): Option[String] = {
    rows.groupBy(_.key).foreach { case (k, rs) =>
      val s = rs.sortBy(_.start)
      s.foreach { r =>
        if (r.end.exists(_ <= r.start))
          return Some(s"key $k has an empty window at ${r.start}")
        if (r.current != r.end.isEmpty)
          return Some(s"key $k: current flag disagrees with end at ${r.start}")
      }
      s.sliding(2).foreach {
        case Seq(a, b) if a.end.forall(_ > b.start) =>
          return Some(s"key $k: windows at ${a.start} and ${b.start} overlap")
        case _ => ()
      }
    }
    None
  }

  /** SCD2 history: well-formed windows, then equal to the model. */
  def scd2(expected: Seq[Scd2Row], actual: Seq[Scd2Row]): Option[String] =
    scd2Intervals(actual).orElse(rowsEqual(expected, actual))

  def rowsEqual(expected: Seq[Scd2Row], actual: Seq[Scd2Row]): Option[String] = {
    val e = expected.map(r => (r.key, r.start) -> r).toMap
    val a = actual.map(r => (r.key, r.start) -> r).toMap
    if (a.size != actual.size) return Some("duplicate (key, start) rows")
    a.collectFirst { case (k, r) if !e.get(k).exists(x => sameRow(x, r)) =>
      s"unexpected history row $r (expected ${e.get(k)})" }
      .orElse(e.keys.find(k => !a.contains(k))
        .map(k => s"history row $k is missing"))
  }

  private def sameRow(x: Scd2Row, y: Scd2Row): Boolean =
    x.key == y.key && x.start == y.start && x.end == y.end &&
      x.current == y.current && near(x.value, y.value) && x.props == y.props

  /** Named aggregates: `n_*` counts must match exactly, the rest to
    * floating-point tolerance.
    */
  def fingerprint(table: String, expected: Map[String, Double],
      actual: Map[String, Double]): Option[String] =
    expected.toSeq.sortBy(_._1).collectFirst {
      case (k, v) if !actual.get(k).exists(a =>
          if (k.startsWith("n_")) a == v else near(a, v)) =>
        s"$table.$k = ${actual.get(k)}, expected $v"
    }

  final case class MaskedRow(id: Long, name: String, email: String,
      phone: String, region: String)
  final case class RawPii(name: String, email: String, phone: String)

  /** Masked, region-restricted read: exactly the allowed ids, and no raw
    * name, email or phone in any row.
    */
  def masking(rows: Seq[MaskedRow], allowed: Set[Long],
      regions: Set[String], raw: Map[Long, RawPii]): Option[String] = {
    val ids = rows.map(_.id)
    if (ids.distinct.size != ids.size) return Some("duplicate customer rows")
    ids.find(!allowed.contains(_)).foreach(i =>
      return Some(s"customer $i is outside the group's regions"))
    if (ids.size != allowed.size)
      return Some(s"${allowed.size - ids.size} allowed customers are missing")
    rows.foreach { r =>
      if (!regions.contains(r.region))
        return Some(s"customer ${r.id} shows region ${r.region}")
      val p = raw(r.id)
      val local = p.email.takeWhile(_ != '@')
      if (r.name == p.name) return Some(s"customer ${r.id}: raw name shown")
      if (r.email == p.email || (local.length > 2 && r.email.contains(local)))
        return Some(s"customer ${r.id}: raw email shown")
      if (r.phone == p.phone || !r.phone.endsWith("****-****"))
        return Some(s"customer ${r.id}: raw phone shown")
    }
    None
  }
}
