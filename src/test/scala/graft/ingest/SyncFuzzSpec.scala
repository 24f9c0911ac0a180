package graft.ingest

import graft.SparkSpec

/** Seeded sync-lifecycle fuzzer (round-10 verdict item 4): the directed
  * churn/drift/pointer specs each pin ONE interleaving; this deck-deals
  * all of them in seeded-random ORDER against the same version-history
  * window oracle, because the bugs these paths grow are interaction
  * bugs (a torn pointer right after a drift failure, a failed publish
  * whose retry crosses a column add, a tie row flushed by a bootstrap
  * instead of a bump).
  *
  * Per seed, a shuffled 26-op deck guarantees coverage of every op kind
  * while fuzzing the interleaving:
  *  - churn: updates + inserts, fresh MERGE manager per cycle
  *    (watermark durability is part of the claim);
  *  - nochange: empty delta — watermark must not move;
  *  - tie: a row stamped EXACTLY at the watermark — invisible to the
  *    strict-> delta scan until a later bump or a bootstrap full read
  *    flushes it (both modeled);
  *  - add: mid-churn column add — adopted, NULL for rows the delta
  *    never re-read;
  *  - drop: dropped column — cycle fails with the named remedy,
  *    watermark + pointer hold, one FullRebuild recovers;
  *  - retype: retyped column — same failure contract, then the source
  *    is reverted (the rolled-back-bad-deploy shape) and life goes on;
  *  - torn/absent pointer: the watermark goes with it, so the delta
  *    scan reads every row, Merge degrades to a bootstrap full read,
  *    and its publish self-heals the pointer and the watermark;
  *  - failpub: the previous generation is damaged so the publish
  *    fails AFTER change detection — watermark and pointer must hold,
  *    the repaired retry must land the delta exactly once;
  *  - stalepub: a lower-epoch publisher (the not-yet-retired half of a
  *    deploy overlap) attempts a cycle with a delta pending — the
  *    fence fails it soft, pointer/watermark hold, the live publisher
  *    lands the delta exactly once;
  *  - crashpub: a publisher dies between the generation writes and the
  *    pointer swap (real publish path, crash injected at the swap) —
  *    the orphan generation is never served and ages out of retention;
  *  - deploy: a rolling deploy mid-deck — the replacement claims a
  *    strictly higher epoch THROUGH whatever the deck just did to the
  *    pointer (torn/absent may immediately precede it — the r12
  *    fence-inversion window), takes the pointer, and the retired
  *    instance's next wake-up is fenced; claim-marker GC runs live
  *    across the handover.
  *
  * Oracle: latest-version-per-id over the archived delta history (a
  * window-rank formulation sharing no code with SyncManager's
  * anti-join MERGE), projected down by dropped columns; compared by
  * order-insensitive digest against BOTH the final published snapshot
  * and the fuzzer's own source-maintenance bookkeeping — three
  * independently-computed states that must agree. Every op also
  * asserts the published generation reads back at exactly its manifest
  * count (the pointer never names a torn generation).
  *
  * The scenario engine lives in [[SyncFuzzScenario]] so the identical
  * deck/oracle logic also runs inside a local-cluster probe JVM with a
  * mid-publish executor SIGKILL armed on one churn cycle
  * (LocalClusterProbe sync-fuzz-kill, gated by LocalClusterSpec).
  */
class SyncFuzzSpec extends SparkSpec {

  private val sfDir = "/root/testdata/sf0.01"

  // always-run seeds; override to widen locally:
  //   GRAFT_SYNC_FUZZ_SEEDS=7,8,9 sbt "testOnly graft.ingest.SyncFuzzSpec"
  // 1408002 is pinned on merit (round 14): its deck ENDS on a rolling
  // deploy whose retired instance ticks once after the final prune —
  // the interleaving that caught the swap-time-only fence writing a
  // full orphan generation per fenced wake-up (25 > keep-24). Keeping
  // it always-run makes that regression shape part of every suite run.
  private val seeds = sys.env.get("GRAFT_SYNC_FUZZ_SEEDS")
    .map(_.split(",").map(_.trim.toInt).toSeq)
    .getOrElse(Seq(20260815, 424242, 1408002))

  seeds.foreach { s =>
    test(s"seeded sync-lifecycle scenario converges to the window oracle (seed $s)") {
      val deck = SyncFuzzScenario.run(spark, sfDir, s, info(_))
      // every run MUST have exercised the multi-publisher ops (r12
      // verdict item 5): the deck force-includes every kind, but pin it
      // so a future deck-grammar edit can't silently drop the fence and
      // crash-orphan coverage from the always-run seeds
      Seq("stalepub", "crashpub", "torn", "failpub", "deploy").foreach(op =>
        assert(deck.contains(op),
          s"always-run deck for seed $s lost the '$op' op: $deck"))
    }
  }

  // mid-cycle handover decks (round 16, r15 verdict task 7): two
  // "midshift" ops dealt into the shuffle — the successor claims and
  // publishes inside the retired instance's in-flight cycle, the
  // window the cycle-entry fence explicitly cannot see. Widen with
  //   GRAFT_SYNC_MIDSHIFT_SEEDS=a,b,c
  private val midshiftSeeds = sys.env.get("GRAFT_SYNC_MIDSHIFT_SEEDS")
    .map(_.split(",").map(_.trim.toInt).toSeq)
    .getOrElse(Seq(1609101))

  midshiftSeeds.foreach { s =>
    test(s"mid-cycle handover deck converges to the window oracle (seed $s)") {
      val deck = SyncFuzzScenario.run(spark, sfDir, s, info(_),
        extraOps = Seq("midshift", "midshift"))
      assert(deck.count(_ == "midshift") == 2,
        s"midshift deck for seed $s lost its midshift ops: $deck")
    }
  }

  // at-swap handover decks (round 17, r16 verdict task 7): the
  // symmetric window — the successor claims and publishes between the
  // retired cycle's table writes and its pointer-swap attempt, so the
  // AT-SWAP fence (not the pre-write fence) must fire, with the
  // "refusing to publish" diagnosis pinned. Widen with
  //   GRAFT_SYNC_LATE_SEEDS=a,b,c
  private val lateSeeds = sys.env.get("GRAFT_SYNC_LATE_SEEDS")
    .map(_.split(",").map(_.trim.toInt).toSeq)
    .getOrElse(Seq(1708017))

  lateSeeds.foreach { s =>
    test(s"at-swap handover deck converges to the window oracle (seed $s)") {
      val deck = SyncFuzzScenario.run(spark, sfDir, s, info(_),
        extraOps = Seq("midshift_late", "midshift_late"))
      assert(deck.count(_ == "midshift_late") == 2,
        s"late deck for seed $s lost its midshift_late ops: $deck")
    }
  }

  // post-swap handover decks (round 18, r17 verdict task 7): the old
  // cycle's swap legitimately WINS, and the successor lands while the
  // old cycle is inside its post-swap tail (retention GC) — the window where no fence can fire and the hazard
  // is a stale instance's GC deleting the generation its successor
  // just published. Retention's higher-epoch refusal is the pinned
  // protection. Widen with GRAFT_SYNC_POSTSWAP_SEEDS=a,b,c
  private val postswapSeeds = sys.env.get("GRAFT_SYNC_POSTSWAP_SEEDS")
    .map(_.split(",").map(_.trim.toInt).toSeq)
    .getOrElse(Seq(1808001))

  postswapSeeds.foreach { s =>
    test(s"post-swap handover deck converges to the window oracle (seed $s)") {
      val deck = SyncFuzzScenario.run(spark, sfDir, s, info(_),
        extraOps = Seq("midshift_postswap", "midshift_postswap"))
      assert(deck.count(_ == "midshift_postswap") == 2,
        s"postswap deck for seed $s lost its midshift_postswap ops: $deck")
    }
  }
}
