package graft.tools

import org.apache.spark.sql.functions._

import graft.fuzz.StreamFuzz
import graft.streaming.EventStream

/** Dev probe: the dedup late-filter TIE rule. Stages three data files:
  *   b0: key 1 at ts=1600s  (watermark, delay 600 -> wm 1000 from b2 on)
  *   b1: key 2 at ts=1500s  (filler; admitted, wm active is 0)
  *   b2: key 3 at ts=1000s  == governing watermark EXACTLY (lag-2: b0's)
  *       key 4 at ts=999s   strictly behind it (control: must drop)
  *       key 5 at ts=1001s  strictly above it (control: must emit)
  * plus closers. If key 3 emits, the tie is admitted (ts >= wm); if it
  * is absent, the tie is dropped (ts > wm).
  */
object DedupTieProbe {
  def main(args: Array[String]): Unit = {
    val spark = graft.core.EngineSession.build("graft-dedup-tie-probe", "local[4]", 4)
    val us = 1000000L
    def ev(id: Long, tsSec: Long) =
      StreamFuzz.Ev(id, tsSec * us, 0L, "view", 0.0, "{}")
    val sc = StreamFuzz.Scenario(0L, 0, "dedup-tie", 600L, Vector(
      Vector(ev(1, 1600)),
      Vector(ev(2, 1500)),
      Vector(ev(3, 1000), ev(4, 999), ev(5, 1001))))
    val dir = StreamFuzz.stage(spark, sc)
    try {
      val rows = StreamFuzz.replay(spark, dir, "tieprobe", evs =>
          EventStream.dedupStream(evs, Seq("event_id"),
            lateness = "600 seconds"))
        .filter(col("event_id") >= 0)
        .select("event_id")
        .as[Long](org.apache.spark.sql.Encoders.scalaLong)
        .collect().sorted.toSeq
      println(s"emitted=$rows")
      println(s"tie(key 3) " +
        (if (rows.contains(3L)) "ADMITTED: late filter is ts >= wm"
         else "DROPPED: late filter is ts > wm"))
      require(!rows.contains(4L) && rows.contains(5L),
        "controls broken — probe misaligned, conclusions invalid")
    } finally StreamFuzz.cleanup(dir)
    spark.stop()
  }
}
