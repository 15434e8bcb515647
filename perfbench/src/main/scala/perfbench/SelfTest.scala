package perfbench

/** The benchmark's own test: every check accepts a right result and
  * rejects each corrupted one. No Spark; exits 1 if any case misbehaves.
  */
object SelfTest {
  def main(args: Array[String]): Unit = {
    val gen = new FeedGen(7L, Seq((0L, 50)))
    val model = new CdcModel
    model.apply(gen.snapshot())
    (0 until 6).foreach(_ => model.apply(gen.batch(40)))
    // a delete that is the key's last change, then a late older update
    model.apply(Seq(Event(9000000L, 0L, 3L, "error", Some(1.0), "{}")))
    model.apply(Seq(Event(8999999L, 0L, 3L, "click", Some(2.0), "{}")))
    val state = model.snapshot
    val live = model.live.toSeq.sortBy(_._1)
      .map { case (k, c) => Scd1Row(k, c.value, c.props, c.seq) }
    val deleted = state.collectFirst { case (k, c) if c.deleted => (k, c) }
      .getOrElse(sys.error("feed made no deletes"))
    val hist = model.history
    val twoVersions = hist.groupBy(_.key).collectFirst {
      case (k, rs) if rs.size >= 2 => rs.sortBy(_.start) }
      .getOrElse(sys.error("feed made no key with two versions"))

    val pii = Map(1L -> Checks.RawPii("Joao Silva", "c1@example.com", "+55 (11) 90001-0001"),
      2L -> Checks.RawPii("Customer#000000002", "c2@example.com", "+55 (11) 90002-0002"),
      1234L -> Checks.RawPii("Ana Lima", "c1234@example.com", "+55 (11) 91234-1234"))
    val masked = Seq(
      Checks.MaskedRow(1, "J*** Silva", "c1****@example.com", "+55 (11) 9****-****", "EUROPE"),
      Checks.MaskedRow(1234, "A*** Lima", "c1****@example.com", "+55 (11) 9****-****", "ASIA"))
    val allowed = Set(1L, 1234L)
    val regions = Set("EUROPE", "ASIA")

    val cases: Seq[(String, Boolean, Option[String])] = Seq(
      ("scd1 right", true, Checks.scd1(state, live)),
      ("scd1 dropped key", false, Checks.scd1(state, live.tail)),
      ("scd1 stale value", false, Checks.scd1(state,
        live.head.copy(value = live.head.value + 1, seq = live.head.seq - 1) +: live.tail)),
      ("scd1 resurrected deleted key", false, Checks.scd1(state,
        live :+ Scd1Row(deleted._1, deleted._2.value, deleted._2.props, deleted._2.seq))),
      ("scd1 lookup right", true, Checks.scd1(state,
        live.take(3), Some(live.take(3).map(_.key).toSet + deleted._1))),
      ("scd1 lookup dropped key", false, Checks.scd1(state,
        live.take(2), Some(live.take(3).map(_.key).toSet))),
      ("scd2 right", true, Checks.scd2(hist, hist)),
      ("scd2 overlapping interval", false, Checks.scd2(hist,
        hist.map(r => if (r == twoVersions.head)
          r.copy(end = Some(twoVersions(1).start + 1)) else r))),
      ("scd2 dropped version", false, Checks.scd2(hist,
        hist.filter(_ != twoVersions.head))),
      ("scd2 stale value", false, Checks.scd2(hist,
        hist.map(r => if (r == twoVersions.head) r.copy(value = r.value + 1) else r))),
      ("fingerprint right", true, Checks.fingerprint("t",
        Map("n_rows" -> 10.0, "sum_v" -> 1.5), Map("n_rows" -> 10.0, "sum_v" -> (1.5 + 1e-12)))),
      ("fingerprint dropped row", false, Checks.fingerprint("t",
        Map("n_rows" -> 10.0, "sum_v" -> 1.5), Map("n_rows" -> 9.0, "sum_v" -> 1.5))),
      ("fingerprint stale sum", false, Checks.fingerprint("t",
        Map("n_rows" -> 10.0, "sum_v" -> 1.5), Map("n_rows" -> 10.0, "sum_v" -> 1.75))),
      ("masking right", true, Checks.masking(masked, allowed, regions, pii)),
      ("masking unmasked email", false, Checks.masking(
        masked.map(r => if (r.id == 1234) r.copy(email = "c1234@example.com") else r),
        allowed, regions, pii)),
      ("masking unmasked name", false, Checks.masking(
        masked.map(r => if (r.id == 1) r.copy(name = "Joao Silva") else r),
        allowed, regions, pii)),
      ("masking other region's row", false, Checks.masking(
        masked :+ Checks.MaskedRow(2, "C***", "c2****@example.com",
          "+55 (11) 9****-****", "AFRICA"), allowed, regions, pii)),
      ("masking missing row", false, Checks.masking(masked.tail, allowed, regions, pii)))

    var bad = 0
    cases.foreach { case (name, shouldPass, res) =>
      val ok = res.isEmpty == shouldPass
      if (!ok) bad += 1
      println(f"${if (ok) "ok  " else "FAIL"} $name%-32s ${res.getOrElse("accepted")}")
    }
    println(s"""{"selftest_cases": ${cases.size}, "failed": $bad}""")
    if (bad > 0) sys.exit(1)
  }
}
