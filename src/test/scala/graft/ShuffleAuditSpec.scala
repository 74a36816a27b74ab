package graft

import org.scalatest.funsuite.AnyFunSuite

/** MEASURED shuffle / spill regression guard — the task-metric companion
  * to [[RuntimeScanSpec]]. [[Meter.measure]] materializes each
  * query inside a SparkListener window and sums per-task metrics, so every
  * stage (checkpoint-pin builds included) contributes what it actually
  * shuffled and spilled. Two properties are pinned on the audit's top
  * movers (full sf0.1 run: 344/344 with 0 spills / 0 flags — SCALING.md
  * "Runtime shuffle / spill audit"):
  *
  *  1. ZERO SPILL — a query that spills in the test JVM has a per-
  *     partition working set shaped wrong for real executors;
  *  2. bounded shuffle volume — written bytes stay within a generous
  *     multiple of the measured sf0.001 value, so a regression that adds
  *     a corpus-sized reshuffle (a dropped pin, a lost partial-agg, an
  *     accidental row explosion) fails loudly here rather than surfacing
  *     as a silent 2× on the 100 TB fabric bill.
  *
  * Bounds are sf0.001 measurements × ~4 headroom (scheduler nondeterminism
  * moves AQE stage sizing a little between runs, never 4×).
  */
class ShuffleAuditSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  private val sf = "/root/testdata/sf0.001"

  // (query, max shuffle-write bytes) — sf0.001 measured × ~4
  private val bounds: Seq[(String, Long)] = Seq(
    ("q181_kcore", 4L << 20),             // measured 792K: bounded peel rounds
    ("q185_item_cf", 2L << 20),           // measured 339K: basket-capped pairs
    ("q61_dedup_groups", 8L << 20),       // measured 1.9M: shuffle-once buckets
    ("q32_ngram_jaccard", 8L << 20),      // measured 1.9M
    ("q57_dup_components", 8L << 20),     // measured 1.9M
    ("q335_transitivity_audit", 8L << 20), // measured 1.9M
    ("q131_weighted_median", 1L << 20),   // measured 226K: one range pass
    ("q172_apriori_triples", 1L << 20),   // measured 119K: heap-bounded triples
    ("q166_winnowing", 4L << 20),         // measured 896K
    ("q01_pricing_summary", 256L << 10),  // measured 2K: partial-agg shuffle
    // round-10 shapes: triangle-list peel, shared-pass double training,
    // train + encode composition
    ("q220_ktruss", 1L << 20),            // measured 36K: peel = equi-joins on the retained list
    ("q352_bpe_dedup_stability", 1L << 20), // measured 207K: one corpus pass, 2 vocab-bounded trainings
    ("q354_bpe_encode", 1L << 20),        // measured 63K: encode is a narrow map, shuffle = training only
    // round-11 shapes: run-to-convergence peel (9 rounds over the
    // retained triangle list), train + full-corpus encode + pack
    ("q355_ktruss_fixpoint", 1L << 20),   // measured 118K: per-round = equi-joins on the shrinking list
    ("q356_tokenize_pack", 1L << 20),     // measured 54K: training shuffle + PrefixSum range pass; encode narrow
    // round-12 shapes: five-stage curation chain; window-lattice span dedup
    ("q357_curation_pipeline", 6L << 20), // measured 1.5M: dedup buckets + stage joins + train + pack
    ("q358_repeated_spans", 2L << 20))    // measured 477K: hash-lattice count + join-back; reassembly per-doc

  bounds.foreach { case (name, maxShuffle) =>
    test(s"$name: zero spill, shuffleWrite <= ${maxShuffle >> 20} MB") {
      val s = Meter.measure(spark)(Queries.byName(name).fn(spark, sf)).tasks
      assert(s.memSpill == 0 && s.diskSpill == 0,
        s"$name spilled: ${s.pretty}")
      assert(s.shuffleWrite <= maxShuffle,
        s"$name shuffled ${s.shuffleWrite} > $maxShuffle bytes (${s.pretty})")
      spark.sharedState.cacheManager.clearCache()
    }
  }
}
