package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Encoder, Row}
import org.apache.spark.sql.catalyst.util.IntervalUtils
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.unsafe.types.UTF8String

/** The one keyed-state step behind every streaming near-dup operator
  * ([[NearDupStream]], [[SemanticStream]]): the streaming form of the
  * batch-vs-index contract "probe the new rows, never index × index".
  * A family is its keyed arrival rows, its member type `M` and its pair
  * function; everything else — ordering, re-delivery, sharding and the
  * watermark bound — is written here once.
  */
private[graft] object ProbeAppend {

  /** One key's micro-batch. Arrivals, in id order and id-distinct,
    * probe every prior member; each pair the family's `pair` function
    * accepts is emitted, called as (smaller id, larger id); then each
    * `home` arrival is appended. Pure function of (arrivals, state,
    * watermark), so a replayed micro-batch reproduces its output — what
    * makes the append sink exactly-once under checkpoint recovery.
    *
    *  - An arrival whose id is already a member is an at-least-once
    *    re-delivery: skipped, with no probe and no append (a second
    *    copy would re-emit its pairs with every later partner).
    *  - Only `home` arrivals are appended; the others are probe copies.
    *    A sharded key (cell, shard) holds only the members whose home
    *    it is, and every pair is emitted once: in the earlier member's
    *    home shard, where the later arrival's probe copy meets it. A
    *    non-home copy of a re-delivered member cannot see that it is
    *    one; the deterministic pair key makes a downstream
    *    `dropDuplicates("a_id", "b_id")` exact.
    *  - `bound` = (member event time, horizon ms): members below the
    *    watermark are evicted before probing, an emptied state is
    *    removed, and every call that leaves members re-arms the
    *    event-time timeout, because Spark clears a timeout that a call
    *    does not set again. The wake time frees an idle key once its
    *    newest member passes the horizon, clamped above the watermark,
    *    which a fully late batch would otherwise put it behind.
    *  - Unbounded forms write state only when membership changed, so a
    *    key that only ever sees probe copies stores nothing.
    */
  def step[M, P](arrivals: Iterator[(M, Boolean)], state: GroupState[List[M]])(
      id: M => Long, bound: Option[(M => Long, Long)])(
      pair: (M, M) => Option[P]): Iterator[P] = {
    if (state.hasTimedOut) { state.remove(); return Iterator.empty }
    lazy val wm = state.getCurrentWatermarkMs()
    var members = state.getOption.getOrElse(Nil)
    bound.foreach { case (ts, _) => members = members.filter(ts(_) >= wm) }
    var changed = false
    val out = List.newBuilder[P]
    // distinctBy: an in-batch duplicate would otherwise probe twice in a
    // non-home group, where no append trips the membership guard
    arrivals.toSeq.sortBy(a => id(a._1)).distinctBy(a => id(a._1)).foreach {
      case (v, home) =>
        if (!members.exists(id(_) == id(v))) {
          members.foreach { m =>
            out ++= (if (id(m) < id(v)) pair(m, v) else pair(v, m))
          }
          if (home) { members ::= v; changed = true }
        }
    }
    bound match {
      case Some((ts, horizonMs)) =>
        if (members.isEmpty) { if (state.exists) state.remove() }
        else {
          state.update(members)
          state.setTimeoutTimestamp(math.max(members.map(ts).max + horizonMs, wm + 1))
        }
      case None => if (changed) state.update(members)
    }
    out.result().iterator
  }

  /** [[step]] over a streaming frame: one row per arrival, grouped by
    * `key`, turned into a member by `member`; a boolean `home` column,
    * when the frame has one, marks the appended copies (without it,
    * every row is home). A bounded form's event-time column must reach
    * this operator as a plain projected column: event-time timeout
    * validation looks for the watermark metadata on a child column, and
    * that metadata survives projections but not typed maps or
    * expressions — so the member function reads it. */
  def pairs[K, M, P](rows: DataFrame, key: Row => K, member: Row => M)(
      id: M => Long, bound: Option[(M => Long, Long)])(pair: (M, M) => Option[P])(
      implicit keys: Encoder[K], members: Encoder[List[M]], out: Encoder[P]): Dataset[P] = {
    val homeAt = Some(rows.schema.fieldNames.indexOf("home")).filter(_ >= 0)
    rows.groupByKey(key).flatMapGroupsWithState(OutputMode.Append,
      if (bound.isEmpty) GroupStateTimeout.NoTimeout else GroupStateTimeout.EventTimeTimeout) {
      (_: K, arrivals: Iterator[Row], state: GroupState[List[M]]) =>
        step(arrivals.map(r => (member(r), homeAt.forall(r.getBoolean))), state)(
          id, bound)(pair)
    }
  }

  /** A watermark horizon ("1 hour", "10 minutes") in milliseconds, a
    * month counted as 30 days. */
  def horizonMs(horizon: String): Long = {
    val iv = IntervalUtils.stringToInterval(UTF8String.fromString(horizon))
    iv.months * 2592000000L + iv.days * 86400000L + iv.microseconds / 1000L
  }
}
