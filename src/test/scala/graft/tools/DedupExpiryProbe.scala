package graft.tools

import org.apache.spark.sql.functions._

import graft.fuzz.StreamFuzz
import graft.streaming.EventStream

/** Dev probe: dedup STATE-EXPIRY rules (delay 600 s everywhere).
  *
  *   b0: k1 ts=1600 (wm source), k6 ts=1000 (expiry 1600),
  *       k7 ts=900 (expiry 1500)
  *   b1: k2 ts=2200 (wm source: 1600 from b3 on under lag-2)
  *   b2: k7 redelivered ts=1601 — LAG discriminator: governing lag-2
  *       wm is 1000 (k7 alive, drop); a lag-1 eviction at end of b1
  *       (wm 1600 > expiry 1500) would have purged it (re-emit)
  *   b3: k6 redelivered ts=2300 — EXPIRY-TIE discriminator: governing
  *       wm 1600 == k6's expiry exactly; re-emit iff a tied expiry is
  *       dead (alive rule ts+delay > wm), drop iff alive (>= wm)
  */
object DedupExpiryProbe {
  def main(args: Array[String]): Unit = {
    val spark = graft.core.EngineSession.build("graft-dedup-expiry-probe", "local[4]", 4)
    val us = 1000000L
    def ev(id: Long, tsSec: Long) =
      StreamFuzz.Ev(id, tsSec * us, 0L, "view", 0.0, "{}")
    val sc = StreamFuzz.Scenario(0L, 0, "dedup-expiry", 600L, Vector(
      Vector(ev(1, 1600), ev(6, 1000), ev(7, 900)),
      Vector(ev(2, 2200)),
      Vector(ev(7, 1601)),
      Vector(ev(6, 2300))))
    val dir = StreamFuzz.stage(spark, sc)
    try {
      val rows = StreamFuzz.replay(spark, dir, "expiryprobe", evs =>
          EventStream.dedupStream(evs, Seq("event_id"),
            lateness = "600 seconds"))
        .filter(col("event_id") >= 0)
        .select("event_id")
        .as[Long](org.apache.spark.sql.Encoders.scalaLong)
        .collect().sorted.toSeq
      val counts = rows.groupBy(identity).view.mapValues(_.size).toMap
      println(s"emitted=$rows")
      println("k7 (lag): " + (if (counts.getOrElse(7L, 0) == 2)
        "RE-EMITTED: expiry uses the LAG-1 eviction watermark"
      else "dropped: expiry uses the lag-2 watermark (model holds)"))
      println("k6 (expiry tie): " + (if (counts.getOrElse(6L, 0) == 2)
        "RE-EMITTED: a tied expiry is dead (alive iff ts+delay > wm)"
      else "dropped: a tied expiry is alive (alive iff ts+delay >= wm)"))
    } finally StreamFuzz.cleanup(dir)
    spark.stop()
  }
}
