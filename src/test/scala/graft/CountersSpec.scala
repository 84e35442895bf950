package graft

/** Deterministic-counter regression gate (round 14, verdict #3).
  *
  * Rounds 11–13 each burned a verdict cycle ruling wall-time "regressions"
  * environment noise; every time, `jobs_per_epoch` and `shuffle_bytes`
  * were byte-identical whenever the plan was unchanged — the counters, not
  * the wall, are the structural signal on this machine. This suite replays
  * every streaming bench entry (the exact `Bench.streamDefs` the artifact
  * runs) at sf0.01 in the shared test session and pins per-entry ceilings:
  *
  *   jobs_per_epoch  ≤ pinned + 0.5   (half a job of slack per epoch)
  *   shuffle_bytes   ≤ pinned × 1.15  (payload drift margin)
  *
  * so a structural regression — an extra job per epoch, a state merge
  * falling off the driver-local tier, a restriction no longer pushed down —
  * fails `sbt test` in-round instead of waiting for cross-round artifact
  * archaeology. Pinned values were measured on the round-14 HEAD in THIS
  * environment (local[8], 8 shuffle partitions, sf0.01 — job counts match
  * the sf0.1 artifact because they are structural; byte counts scale with
  * the fixture, so the pins are sf0.01-specific). IMPROVEMENTS should
  * re-pin downward: a ceiling left slack after a structural win lets the
  * win silently erode back.
  *
  * Wall time is deliberately NOT asserted — it swings 2–3× across hours on
  * this machine (SURVEY round-13 item 51).
  */
class CountersSpec extends SparkSpec {

  private val sfDir = "/root/testdata/sf0.01"

  /** name -> (jobs_per_epoch ceiling base, shuffle_bytes ceiling base).
    *
    * Re-pinned for round 15's exchange-free driver-tier epochs: local
    * deltas/state pin to SinglePartition (no exchange, no AQE stage
    * jobs), semi/anti probes and keyed diffs run driver-side, changelog
    * segments write without a Spark job, and identity compaction keeps
    * the merged face (no post-compaction re-seed exchange). Entries
    * measuring 0 bytes pin a 4096-byte allowance for scheduling jitter
    * on shared appends (the r15 global_window precedent). */
  private val pinned: Map[String, (Double, Long)] = Map(
    "s_mv_tumble_maintain" -> (1.0, 171094L),
    // re-pinned for the delta-agg fold in CarriedOverlay: the first epoch
    // seeds the no-base tier from the backfill frame (no distributed merge
    // and probe), and every epoch diffs the overlay's driver slices
    "s_mv_cascade_epoch" -> (2.0, 171094L),
    // re-pinned for the session MV in CarriedOverlay: the first epoch
    // takes the slice epoch too (no full re-sessionize to seed a tier), so
    // every epoch is the delta collect and the slice re-sessionize
    "s_mv_session_maintain" -> (2.0, 4096L),
    // re-pinned for round 16's fused grouped-top-N epoch: the touched-group
    // recompute plan is no longer materialized before the truncate — the
    // ranked sort-limit evaluates it as part of its single job
    "s_mv_topn_cascade" -> (3.0, 4096L),
    "s_mv_pkagg_fold" -> (1.0, 4096L),
    // the delta-join's landed net writes its changelog ops driver-side
    // (no single-task netOps job per epoch)
    "s_mv_left_join_fold" -> (2.0, 4096L),
    "s_mv_window_maintain" -> (3.0, 4096L),
    "s_mv_global_window" -> (2.0, 4096L),
    "s_mv_histogram_fold" -> (2.25, 4096L),
    // the pkagg fold over a state past its driver bound — the measured
    // over-bound shape (the 100 TB path): constant-depth base∪overlay
    // plan, one base probe per NEWLY-touched key set, driver-side point
    // fold and slice-reused visible diff — steady-state epochs are
    // delta-aux only (the residual jobs are the first epoch's seed collect
    // and probe, and the every-8-layers flat checkpoint). Re-pinned when
    // the entry moved onto cascadeLocalMax with 850 preloaded cold groups
    "s_mv_pkagg_fold_overbound" -> (1.5, 4096L),
    // the streaming tumble aggregate past its keyed-state bound: one flat
    // checkpoint when the state first outgrows it, then base-probe jobs for
    // each epoch's new keys and a checkpoint whenever the touched set
    // outgrows the bound; the shuffle is the tumble entry's own
    "s_mv_tumble_maintain_overbound" -> (2.5, 171094L),
    // the left-join fold past its grouped-state bound: one flat checkpoint
    // when the state first outgrows it, then a base probe for each epoch's
    // new rows and a flat checkpoint whenever the touched set outgrows the
    // bound; no state shuffle; ops are written driver-side
    "s_mv_left_join_fold_overbound" -> (3.5, 4096L),
    // the session MV past its driver tier: both overlays checkpoint flat
    // once they outgrow the bound, then each epoch reads the base through
    // two range probes (a broadcast and a collect each) beside its delta
    // collect and slice re-sessionize; no state shuffle
    "s_mv_session_maintain_overbound" -> (5.125, 4096L),
  )

  for (d <- Bench.streamDefs) {
    test(s"${d.name}: jobs/epoch and shuffle bytes within pinned ceilings") {
      val (sec, rows, epochs, jobs, shuffleBytes) =
        Bench.runStreamEntry(spark, sfDir, d)
      assert(sec >= 0 && rows > 0 && epochs > 0,
        s"${d.name} replay failed or demoted (sec=$sec rows=$rows epochs=$epochs)")
      val jpe = jobs.toDouble / epochs
      val (jpeBase, bytesBase) = pinned(d.name)
      info(f"${d.name}: jobs/epoch=$jpe%.3f (pin $jpeBase) " +
        f"shuffle_bytes=$shuffleBytes (pin $bytesBase)")
      assert(jpe <= jpeBase + 0.5,
        s"${d.name}: jobs/epoch $jpe exceeds pinned $jpeBase + 0.5 — " +
          "a structural job-count regression (or re-pin after an intended change)")
      assert(shuffleBytes <= (bytesBase * 1.15).toLong,
        s"${d.name}: shuffle_bytes $shuffleBytes exceeds pinned $bytesBase × 1.15 — " +
          "a structural shuffle regression (or re-pin after an intended change)")
    }
  }
}
