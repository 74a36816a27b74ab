package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Distributed BPE merge training — the tokenizer-training kernel (Sennrich
  * et al. 2016) at corpus scale.
  *
  * Scale shape (the one real tokenizer trainers use): the corpus is scanned
  * ONCE and collapsed to a (word, count) table, so every merge round runs
  * on a VOCABULARY-bounded frame — a trillion-token corpus and a 1 GB
  * corpus cost the same per round once word counts exist. State is the
  * positional symbol frame (word, cnt, pos, sym); each round
  *   1. counts adjacent symbol pairs weighted by word count (one
  *      combinable aggregate),
  *   2. picks the argmax pair — max weight, lexicographically smallest
  *      (a, b) on ties, a 1-row bounded driver scalar,
  *   3. applies the merge GREEDILY left-to-right as one narrow per-word
  *      fold over the symbol array ([[applyMergeGreedy]]) — no shuffle;
  *      the SQL oracle replays the same selection via the equivalent
  *      run-parity window construction as unrolled CTEs.
  *
  * Determinism: pair counts are integer sums, the argmax tie-break is
  * total, and merge application is a pure function of (state, pair) — so
  * the merge list is partition-order-independent and bit-replayable.
  */
object BpeTrain {

  /** One learned merge: `weight` = summed word-count of the pair's
    * adjacent occurrences when chosen; `nPairTypes` = distinct adjacent
    * pair types observed that round (vocab-health signal: it shrinks as
    * merges absorb frequent pairs).
    */
  final case class Merge(round: Int, symA: String, symB: String,
                         weight: Long, nPairTypes: Long)

  /** Character-symbolized positional state (word, cnt, pos, sym),
    * pos 1-based — split into single characters.
    */
  def symbolize(words: DataFrame, wordCol: String, cntCol: String)
      : DataFrame =
    // filter the split: Spark's split keeps a trailing "" element on some
    // versions (Java split with limit -1); an empty symbol would be a
    // phantom position the oracle's substring enumeration never emits
    words.select(col(wordCol).as("w"), col(cntCol).as("cnt"),
        posexplode(filter(split(col(wordCol), ""),
          x => x =!= lit(""))).as(Seq("p", "sym")))
      .select(col("w"), col("cnt"), (col("p") + 1).as("pos"), col("sym"))

  /** Greedy left-to-right application of merge (a, b) to a symbol array,
    * as one narrow fold: append each symbol, and when the accumulator's
    * LAST element is `a` and the incoming symbol is `b`, replace that
    * last element with the merged symbol instead. This is exactly the
    * greedy non-overlapping scan — a merged tail element is `a + b`,
    * which can never equal `a` (b is non-empty), so a just-merged pair
    * can't chain into the next match; when a == b the merged "aa" tail
    * likewise refuses "a"-matches until a fresh `a` is appended. Spec-
    * pinned equivalent to the former run-parity window construction
    * (BpeTrainSpec property tests vs the naive reference), but NARROW:
    * no window shuffle, no join, no per-round checkpoint — the round-12
    * job-shape fix that took train(rounds=3) from ~10 scheduled jobs
    * (4 shuffles/round) to 1 job + 1 combinable shuffle per round.
    * `get` (not element_at) keeps the empty-accumulator probe null-safe
    * under ANSI mode.
    */
  private def applyMergeGreedy(syms: Column, a: String, b: String): Column =
    aggregate(syms, typedLit(Seq.empty[String]),
      (acc, x) =>
        when(get(acc, size(acc) - 1) === lit(a) && x === lit(b),
          concat(slice(acc, lit(1), size(acc) - 1), array(lit(a + b))))
          .otherwise(concat(acc, array(x))))

  /** Run `rounds` merge rounds over (word, count) rows; returns the
    * learned merges (possibly fewer than `rounds` if pairs run dry) and
    * the final positional state.
    *
    * Round shape (guide §2.3/§2.4): state lives as ONE ROW PER WORD
    * (w, cnt, syms array). Pair counting explodes adjacent pairs from
    * the array (narrow) into a map-side-combinable sum keyed on the
    * pair — the round's single shuffle — and the argmax is the same
    * 1-row bounded driver scalar as before. Merge application is
    * [[applyMergeGreedy]], a pure projection: the old positional form
    * paid a lead() window, two windowed run-parity passes, two joins
    * and an eager localCheckpoint per round. Rounds re-derive the
    * current array lazily (r nested folds over the checkpointed base
    * — vocab-bounded and narrow); a safety checkpoint every 8 rounds
    * keeps the plan bounded for deep trainings.
    */
  def train(words: DataFrame, wordCol: String, cntCol: String, rounds: Int)
      : (Seq[Merge], DataFrame) = {
    require(rounds >= 0, s"rounds=$rounds must be >= 0")
    var pinned = Materialize.eager(words.select(col(wordCol).as("w"),
      col(cntCol).as("cnt"),
      filter(split(col(wordCol), ""), x => x =!= lit("")).as("syms")))
    var st = pinned
    val merges = scala.collection.mutable.ArrayBuffer.empty[Merge]
    var r = 1
    var dry = false
    while (r <= rounds && !dry) {
      val prs = st.filter(size(col("syms")) > 1)
        .select(col("cnt"), explode(zip_with(
          slice(col("syms"), lit(1), size(col("syms")) - 1),
          slice(col("syms"), lit(2), size(col("syms")) - 1),
          (x, y) => struct(x.as("sym"), y.as("nx")))).as("pr"))
      val pc = prs.groupBy(col("pr.sym").as("sym"), col("pr.nx").as("nx"))
        .agg(sum(col("cnt")).as("pc"))
      // argmax, weight, and distinct-pair-type count in ONE combinable
      // aggregate over the vocab²-bounded pair table (no sort, no second
      // count job): MaxScoreMinKey over a struct key is exactly the
      // (weight desc, lexicographic) tie-break
      val top = pc.agg(
        graft.functions.ArgExtremum.maxScoreMinKey(col("pc"),
          struct(col("sym"), col("nx"))).as("best"),
        max(col("pc")).as("wgt"),
        count(lit(1)).as("npt")).collect()
      if (top(0).isNullAt(0)) dry = true
      else {
        val best = top(0).getStruct(0)
        val a = best.getString(0)
        val b = best.getString(1)
        val wgt = top(0).getLong(1)
        val nPt = top(0).getLong(2)
        merges += Merge(r, a, b, wgt, nPt)
        st = st.select(col("w"), col("cnt"),
          applyMergeGreedy(col("syms"), a, b).as("syms"))
        if (r % 8 == 0) {
          st = Materialize.eager(st)
          Materialize.release(pinned)
          pinned = st
        }
        r += 1
      }
    }
    val positional = st
      .select(col("w"), col("cnt"),
        posexplode(col("syms")).as(Seq("p", "sym")))
      .select(col("w"), col("cnt"), (col("p") + 1).as("pos"), col("sym"))
    (merges.toSeq, positional)
  }

  /** The merge list as a DataFrame (round, sym_a, sym_b, weight,
    * n_pair_types) — empty-safe with a pinned schema.
    */
  def mergesDf(spark: SparkSession, merges: Seq[Merge]): DataFrame = {
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("round", LongType, nullable = false),
      StructField("sym_a", StringType, nullable = false),
      StructField("sym_b", StringType, nullable = false),
      StructField("weight", LongType, nullable = false),
      StructField("n_pair_types", LongType, nullable = false)))
    val rows = merges.map(m => org.apache.spark.sql.Row(
      m.round.toLong, m.symA, m.symB, m.weight, m.nPairTypes))
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 1), schema)
  }

  /** Reload a merge list previously written via [[mergesDf]] (through
    * the warehouse — parquet/[[graft.sources.PartitionedStore]]) back
    * into the trainer's ORDERED form — the artifact-management half of
    * the tokenizer lifecycle: train once, persist the merges, encode
    * anywhere. Order comes from the `round` column, never file order
    * (parquet readers don't preserve row order). The collect is
    * vocab-budget-bounded (= the trained `rounds`), the same bounded
    * driver scalar the trainer itself holds.
    */
  def loadMerges(df: DataFrame): Seq[Merge] = {
    val out = df
      .select(col("round"), col("sym_a"), col("sym_b"), col("weight"),
        col("n_pair_types"))
      .collect()
      .map(r => Merge(r.getLong(0).toInt, r.getString(1), r.getString(2),
        r.getLong(3), r.getLong(4)))
      .sortBy(_.round).toSeq
    // a directory that accumulated two trainings' artifacts (or a
    // versioned append store read without keep-last) would otherwise
    // yield a silently-corrupted merge list
    require(out.map(_.round) == (1 to out.size),
      s"merge artifact has duplicate/missing rounds: ${out.map(_.round)}")
    out
  }
}
