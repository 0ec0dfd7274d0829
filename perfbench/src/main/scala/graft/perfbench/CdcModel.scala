package graft.perfbench

/** What the CDC lane must produce, predicted from the generated events
  * alone. `Scd2Job.run()` reads the whole staging directory and keeps the
  * rows whose second-truncated event time is strictly greater than the
  * checkpoint (the largest event second it has processed), so an event
  * that shares its second with the previous run's last event is never
  * applied. */
object CdcModel {
  /** One bronze row: key, op, event time truncated to whole seconds, lsn. */
  final case class Ev(id: Int, op: String, tsSec: Long, lsn: Long)

  /** Per `run()`: rows it processes, staged rows it skips for good, and
    * the ids that must then have exactly one current SCD2 row. */
  final case class RunExpect(applied: Long, skipped: Long, live: Set[Int],
                             appliedEvents: Seq[Ev])

  def expect(batches: Seq[Seq[Ev]]): Seq[RunExpect] = {
    var mark: Option[Long] = None
    var live = Set.empty[Int]
    var dead = 0L
    val staged = scala.collection.mutable.ArrayBuffer[Ev]()
    val appliedLsns = scala.collection.mutable.Set[Long]()
    batches.map { batch =>
      staged ++= batch
      val applied = mark.fold(staged.toSeq)(m => staged.toSeq.filter(_.tsSec > m))
      if (applied.nonEmpty) mark = Some(math.max(mark.getOrElse(Long.MinValue),
        applied.map(_.tsSec).max))
      appliedLsns ++= applied.map(_.lsn)
      // An id with an insert or update in the run ends with one current
      // row; a delete alone closes the stored current row.
      val deleted = applied.filter(_.op == "d").map(_.id).toSet
      val upserted = applied.filter(_.op != "d").map(_.id).toSet
      live = (live -- deleted) ++ upserted
      // staged rows at or below the new checkpoint that no run applied
      val deadNow = staged.count(e => !appliedLsns(e.lsn) && mark.exists(e.tsSec <= _)).toLong
      val skipped = deadNow - dead
      dead = deadNow
      RunExpect(applied.length.toLong, skipped, live, applied)
    }
  }

  def fromOps(ops: Seq[graft.cdc.CdcFixtures.CdcOp]): Seq[Ev] = ops.map { o =>
    val id = o.after.orElse(o.before).map(_.id).getOrElse(-1)
    Ev(id, o.op, Math.floorDiv(o.tsMs, 1000L), o.lsn)
  }
}
