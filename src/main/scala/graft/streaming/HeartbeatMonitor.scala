package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{Dataset, Encoders}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Streaming silence detection — the streaming dual of q91's calendar gap
  * fill: q91 materializes the missing days of a bounded history; this
  * operator emits a synthetic alert the moment a LIVE key goes silent
  * longer than its allowance, and keeps escalating (n_missed grows per
  * silent interval) until the key speaks again.
  *
  * Mechanics: per-key `flatMapGroupsWithState` with a processing-time
  * timeout as the "no data arrived" trigger — the only way to produce
  * output for a key with NO input rows (cf. the reference's poll-loop
  * waits, playwright_login_runner.py:122: a poll interval is exactly a
  * processing-time timeout). Data arrival stores the newest event time
  * and re-arms the timer; a firing timer emits the alert, increments the
  * escalation count, and re-arms itself.
  *
  * Scale posture: state is one (timestamp, int) per key, O(keys) not
  * O(events); alerts are timer-driven so a silent key costs one state
  * read per interval, not a scan. A permanently-abandoned key does NOT
  * alert forever: after `maxEscalations` silent intervals the key emits
  * one `terminal = true` alert and its state is REMOVED — alert volume
  * and state size stay bounded even when keys die and never return (a
  * later heartbeat simply re-registers the key from scratch). It runs
  * under either state-store provider.
  */
object HeartbeatMonitor {

  case class Heartbeat(key: String, ts: Timestamp)
  case class HbState(lastSeen: Timestamp, nMissed: Long)
  case class SilenceAlert(key: String, last_seen: Timestamp, n_missed: Long,
                          terminal: Boolean = false)

  /** Pure transition (unit-testable with TestGroupState). */
  def transition(silenceMs: Long, maxEscalations: Long = Long.MaxValue)(
      key: String, events: Iterator[Heartbeat],
      state: GroupState[HbState]): Iterator[SilenceAlert] = {
    if (state.hasTimedOut) {
      val s = state.get
      val next = HbState(s.lastSeen, s.nMissed + 1)
      if (next.nMissed >= maxEscalations) {
        // retire the key: one terminal alert, state dropped, timer dead
        state.remove()
        Iterator.single(
          SilenceAlert(key, next.lastSeen, next.nMissed, terminal = true))
      } else {
        state.update(next)
        state.setTimeoutDuration(silenceMs)
        Iterator.single(SilenceAlert(key, next.lastSeen, next.nMissed))
      }
    } else {
      val newest = events.map(_.ts).maxBy(_.getTime)
      val last = state.getOption.map(_.lastSeen)
        .filter(_.getTime > newest.getTime).getOrElse(newest)
      state.update(HbState(last, 0L)) // any signal resets the escalation
      state.setTimeoutDuration(silenceMs)
      Iterator.empty
    }
  }

  def monitor(events: Dataset[Heartbeat], silenceMs: Long,
              maxEscalations: Long = Long.MaxValue): Dataset[SilenceAlert] = {
    implicit val ke = Encoders.STRING
    implicit val se = Encoders.product[HbState]
    implicit val oe = Encoders.product[SilenceAlert]
    events.groupByKey(_.key)
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.ProcessingTimeTimeout)(
        transition(silenceMs, maxEscalations))
  }
}
