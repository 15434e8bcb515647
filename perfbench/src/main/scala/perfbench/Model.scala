package perfbench

/** One change-feed row in the `events` shape. `value == None` marks an
  * invalid row that `Cdc.stage` drops.
  */
final case class Event(eventId: Long, tsUs: Long, userId: Long,
    eventType: String, value: Option[Double], props: String) {
  def op: String = eventType match {
    case "signup" => "INSERT"
    case "error" => "DELETE"
    case _ => "UPDATE"
  }
  def valid: Boolean = value.nonEmpty
}

/** SCD1 state of one key; deleted keys keep their tombstone so a late,
  * older change cannot bring them back.
  */
final case class Cur(seq: Long, value: Double, props: String, deleted: Boolean)

/** SCD1 row as a table returns it. */
final case class Scd1Row(key: Long, value: Double, props: String, seq: Long)

/** SCD2 history row (DELETE closers excluded). */
final case class Scd2Row(key: Long, value: Double, props: String,
    start: Long, end: Option[Long], current: Boolean)

/** The benchmark's own model of the change feed, in plain Scala, written
  * apart from the program: last-writer-wins by sequence for SCD1,
  * per-key version lists for SCD2, immutable maps for cheap snapshots.
  */
final class CdcModel {
  private var state = Map.empty[Long, Cur]
  private var versions = Map.empty[Long, Vector[Event]]

  def apply(batch: Seq[Event]): Unit = batch.filter(_.valid).foreach { e =>
    val accept = state.get(e.userId).forall(c => e.eventId >= c.seq)
    if (accept) state = state.updated(e.userId,
      Cur(e.eventId, e.value.get, e.props, e.op == "DELETE"))
    val vs = versions.getOrElse(e.userId, Vector.empty)
    versions = versions.updated(e.userId, (vs :+ e).sortBy(_.eventId))
  }

  def snapshot: Map[Long, Cur] = state
  def live: Map[Long, Cur] = state.filter(!_._2.deleted)

  /** SCD2 history: every INSERT/UPDATE opens a version, the next change
    * of any kind closes it.
    */
  def history: Seq[Scd2Row] = versions.toSeq.flatMap { case (k, vs) =>
    vs.indices.filter(i => vs(i).op != "DELETE").map { i =>
      val end = if (i + 1 < vs.size) Some(vs(i + 1).eventId) else None
      Scd2Row(k, vs(i).value.get, vs(i).props, vs(i).eventId, end, end.isEmpty)
    }
  }

  /** Versions valid at sequence `s` (start <= s < end). */
  def asOf(s: Long): Seq[Scd2Row] =
    history.filter(r => r.start <= s && r.end.forall(_ > s))
}
