package graft.tools

import org.apache.spark.sql.functions._

import graft.fuzz.StreamFuzz
import graft.streaming.EventStream

/** Dev probe: the stream-stream join late-filter TIE rule. Both sides'
  * watermarks are advanced to 1000s by a b0 pair; b2 carries three
  * user-isolated purchase+view pairs at ts == wm (tie), wm+1, wm-1.
  * Whether the tie pair joins decides ts >= wm vs ts > wm for the
  * join's late filter.
  */
object JoinTieProbe {
  def main(args: Array[String]): Unit = {
    val spark = graft.core.EngineSession.build("graft-join-tie-probe", "local[4]", 4)
    val us = 1000000L
    def ev(id: Long, tsSec: Long, uid: Long, tpe: String) =
      StreamFuzz.Ev(id, tsSec * us, uid, tpe, 0.0, "{}")
    val sc = StreamFuzz.Scenario(0L, 0, "join-tie", 600L, Vector(
      Vector(ev(1, 1600, 100L, "purchase"), ev(2, 1600, 100L, "view")),
      Vector(ev(3, 1500, 101L, "purchase"), ev(4, 1500, 101L, "view")),
      Vector(
        ev(10, 1000, 10L, "purchase"), ev(11, 1000, 10L, "view"), // tie
        ev(12, 1001, 11L, "purchase"), ev(13, 1001, 11L, "view"), // above
        ev(14, 999, 12L, "purchase"), ev(15, 999, 12L, "view")))) // behind
    val dir = StreamFuzz.stage(spark, sc)
    try {
      val got = StreamFuzz.replay(spark, dir, "jointieprobe", evs =>
          EventStream.intervalJoin(
            evs.filter(col("event_type") === "purchase"),
            evs.filter(col("event_type") === "view"),
            "user_id", maxAge = "20 minutes", lateness = "600 seconds"))
        .select("user_id", "l_event_id", "r_event_id")
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      println(s"pairs=$got")
      println("tie(user 10) " +
        (if (got.exists(_._1 == 10L)) "JOINED: join late filter is ts >= wm"
         else "DROPPED: join late filter is ts > wm"))
      require(got.exists(_._1 == 11L) && !got.exists(_._1 == 12L),
        "controls broken — probe misaligned, conclusions invalid")
    } finally StreamFuzz.cleanup(dir)
    spark.stop()
  }
}
