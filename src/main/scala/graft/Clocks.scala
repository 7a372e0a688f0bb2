package graft

import java.time.{Clock, LocalDate, ZoneId}

/** F3 — timezone-aware, INJECTABLE "today" (reference main.py:24-31:
  * `datetime.now(KYIV_TZ).date()` — business-day boundaries follow
  * Europe/Kyiv, not the server clock).
  *
  * Every "current date" in the engine flows through a
  * `java.time.Clock`, so production uses the system clock while tests
  * and reruns pin a fixed instant — a replayed job must compute the
  * same ranges it computed the first time. Every graft session pins UTC
  * (`GraftSession.defaults`) for oracle determinism; this is the parameterized
  * path for the reference's reporting semantics.
  */
object Clocks {

  /** The reference's reporting timezone (main.py:24 KYIV_TZ). */
  val ReferenceZone: String = "Europe/Kyiv"

  /** Current date as observed in `zone` at the clock's instant. */
  def today(zone: String = ReferenceZone,
            clock: Clock = Clock.systemUTC()): LocalDate =
    LocalDate.now(clock.withZone(ZoneId.of(zone)))

  /** Inclusive [start, end] covering the last `n` days ending today —
    * the reference's historical-range shape (utils/api.py:203-228 walks
    * get_historical_food_entries(start,end); main.py derives both ends
    * from the Kyiv today). */
  def lastNDays(n: Int, zone: String = ReferenceZone,
                clock: Clock = Clock.systemUTC()): (LocalDate, LocalDate) = {
    val end = today(zone, clock)
    (end.minusDays(n.toLong - 1), end)
  }
}
