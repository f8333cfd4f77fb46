package perfbench

import scala.collection.mutable

/** What a read returned, reduced to exact checksums: row count, sum of
  * values, and sum of [[Gen.keySum]] over the returned keys. */
final case class Answer(rows: Long, valueSum: Double, keySum: Long)

/** A read as the model sees it: the series, a half-open valid-hour window
  * and the shape. */
final case class Query(shape: String, sids: Seq[Long], vtFrom: Long, vtTo: Long)

object Query {
  val Shapes: Seq[String] = Seq("latest", "history", "audit", "audit_history", "relative")

  /** `relative` reads are `readRelativeDaily(daysAhead = 1, 06:00)`: the
    * latest value issued by 06:00 the day before. */
  val DaysAhead = 1
  val TimeOfDayH = 6
}

/** Closed-form model of the store: which runs were written, which got a
  * correction (revision 1) or a re-delivery (revision 2), and which
  * (tier, month) partitions were expired. Every expected answer is
  * computed from these facts and the generator's value formula alone. */
final class Model(val gen: Gen) {
  import Gen._

  private val written = new java.util.BitSet()
  private val followUp = mutable.Map.empty[Long, Int]
  private val expired = mutable.Set.empty[(String, String)]
  private var maxRun = -1L

  def wrote(r0: Long, r1: Long): Unit = {
    written.set(r0.toInt, r1.toInt)
    maxRun = math.max(maxRun, r1 - 1)
  }
  def hasFollowUp(r: Long): Boolean = followUp.contains(r)
  def corrected(r: Long): Unit = { require(!hasFollowUp(r)); followUp(r) = 1 }
  def redelivered(r: Long): Unit = { require(!hasFollowUp(r)); followUp(r) = 2 }
  def expire(tier: String, month: String): Unit = expired += ((tier, month))
  def hasExpired(tier: String, month: String): Boolean = expired((tier, month))
  def runsWritten: Long = written.cardinality().toLong

  /** Rows the store holds logically (every written row version that is
    * not expired). */
  def logicalRows: Long = {
    var n = 0L
    var r = written.nextSetBit(0)
    while (r >= 0) {
      for (sid <- 1L to gen.nSeries; k <- 1 to Horizon) {
        val vtH = gen.baseHour + r + k
        if (live(sid, vtH)) n += states(sid, vtH, r).length
      }
      r = written.nextSetBit(r + 1)
    }
    n
  }

  private def live(sid: Long, vtH: Long): Boolean = !expired((tierOf(sid), monthOf(vtH)))

  /** Value after each write that touched (sid, vt, run r), oldest first. */
  private def states(sid: Long, vtH: Long, r: Long): List[Double] = {
    val v0 = gen.value(sid, vtH, r, 0)
    followUp.get(r) match {
      case Some(1) if gen.corrected(sid, r) => List(v0, gen.value(sid, vtH, r, 1))
      case Some(2) if gen.changed(sid, vtH, r) => List(v0, gen.value(sid, vtH, r, 2))
      case _ => List(v0)
    }
  }

  /** The audit chain: consecutive equal states collapsed. */
  private def chain(sid: Long, vtH: Long, r: Long): List[Double] = {
    val s = states(sid, vtH, r)
    s.head :: s.zip(s.tail).collect { case (a, b) if a != b => b }
  }

  /** Runs covering (vt) issued at or before hour `cutoff`, newest first. */
  private def candidates(vtH: Long, cutoffH: Long): Iterator[Long] = {
    val hi = math.min(vtH - 1 - gen.baseHour, cutoffH - gen.baseHour)
    val lo = vtH - Horizon - gen.baseHour
    Iterator.iterate(hi)(_ - 1).takeWhile(_ >= math.max(lo, 0L)).filter(r => written.get(r.toInt))
  }

  def expect(q: Query): Answer = {
    var rows = 0L
    var vsum = 0.0
    var ksum = 0L
    def add(sid: Long, vtH: Long, ktH: Long, v: Double): Unit = {
      rows += 1; vsum += v; ksum += keySum(sid, vtH, ktH)
    }
    for (sid <- q.sids; vtH <- q.vtFrom until q.vtTo if live(sid, vtH)) {
      val cutoff =
        if (q.shape == "relative") Math.floorDiv(vtH, 24L) * 24L + Query.TimeOfDayH - 24L * Query.DaysAhead
        else Long.MaxValue / 2
      val cands = candidates(vtH, cutoff)
      q.shape match {
        case "latest" | "relative" =>
          cands.nextOption().foreach(r => add(sid, vtH, 0L, states(sid, vtH, r).last))
        case "history" =>
          cands.foreach(r => add(sid, vtH, gen.baseHour + r, states(sid, vtH, r).last))
        case "audit" =>
          cands.nextOption().foreach(r => chain(sid, vtH, r).foreach(add(sid, vtH, 0L, _)))
        case "audit_history" =>
          cands.foreach(r => chain(sid, vtH, r).foreach(add(sid, vtH, gen.baseHour + r, _)))
      }
    }
    Answer(rows, vsum, ksum)
  }

  /** Run ids `readRunSeries` must return for any series, sorted. */
  def runIds: Seq[Long] = {
    val out = Seq.newBuilder[Long]
    var r = written.nextSetBit(0)
    while (r >= 0) { out += r + 1L; r = written.nextSetBit(r + 1) }
    out.result()
  }
}
