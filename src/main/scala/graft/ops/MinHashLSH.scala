package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType
import graft.functions.{TextFunctions => TF}

/** MinHash + LSH near-duplicate detection over document shingles — the
  * scalable near-dup pass of an LLM training-data pipeline (BASELINE.json
  * north star; sits conceptually next to the exact dedup the reference gets
  * from ReplacingMergeTree, `app/src/crypto_data_pipeline_clickhouse.py:541`).
  *
  * Pipeline: shingle → 60-bit MD5 token hash → k permutation-min signatures
  * → band → bucket self-join → exact-Jaccard verification of candidates.
  *
  * Scale notes (100 TB): cost is Θ(docs × k) hashing + one shuffle on
  * (band, band-signature) whose largest bucket bounds the pair blowup;
  * banding parameters trade recall for bucket size (r rows/band, b = k/r
  * bands → P(candidate) = 1-(1-J^r)^b). Candidates are verified with exact
  * Jaccard, so false positives never escape. Recall with k=64, r=2 by pair
  * similarity: 1-1e-23 at J=0.9, but only ≈ 1-1e-4 for a pair sitting at
  * J=0.5 — a threshold-0.5 caller accepts ~1e-4 odds of missing a boundary
  * pair (per pair, under random permutations; the shipped A/B are FIXED, so
  * on any given corpus behavior is deterministic and testable). All hashing
  * is deterministic (fixed A/B, prime modulus), so results are reproducible
  * across runs and engines — the DuckDB oracle replays the exact-Jaccard
  * brute force.
  */
object MinHashLSH {

  /** Mersenne prime 2^31-1; with 60-bit token hashes reduced mod P, every
    * `a*h+b mod P` stays inside signed-64 arithmetic in any engine.
    */
  val P = 2147483647L

  /** Fixed permutation parameters (seeded offline, seed 20260812). */
  val A: Array[Long] = Array(
    114060684L, 143607338L, 658016613L, 1920833001L, 1625018798L,
    2115868157L, 1839658157L, 1370607936L, 1314768563L, 1516846533L,
    899342927L, 1761721496L, 1792449689L, 2056989732L, 1252576877L,
    638180912L, 516347111L, 86660098L, 1034123048L, 390694563L,
    1490082987L, 1456092804L, 997229159L, 1263980514L, 768208874L,
    373428981L, 381249820L, 1284903395L, 434862591L, 97658014L, 635475302L,
    570517315L, 1522425844L, 334529766L, 1689677234L, 1003823823L,
    1509779901L, 1177694472L, 385288777L, 1001072044L, 1286760557L,
    1140912467L, 1555416273L, 1474034037L, 137111195L, 1024637813L,
    1326353220L, 494970826L, 731651807L, 1540310343L, 993191397L,
    888645946L, 1275083899L, 325350618L, 1359272704L, 771243135L,
    711658337L, 269452705L, 606543125L, 1932692493L, 242146162L,
    1168033290L, 31958266L, 1568728817L)
  val B: Array[Long] = Array(
    1439161784L, 1906695949L, 1242884761L, 1710276958L, 2024084681L,
    132220904L, 2123611557L, 1495285069L, 394844413L, 789471070L,
    1892764423L, 1934145433L, 990151238L, 1074662340L, 156104010L,
    797235941L, 972168405L, 1348839785L, 698188537L, 791108837L,
    403883147L, 710543563L, 1797601492L, 1967703195L, 1923733878L,
    739833526L, 804492294L, 934210399L, 185321430L, 1786919192L,
    575051444L, 1371285412L, 1126953336L, 1121259716L, 216315432L,
    930935934L, 811484638L, 740810403L, 403197342L, 1192106164L,
    772550903L, 575732240L, 894693251L, 550727791L, 1359496506L,
    740653376L, 2077775864L, 629629216L, 374124740L, 1059541759L,
    954588087L, 1586438696L, 784270228L, 1578773862L, 1058308752L,
    1978910504L, 216543191L, 1945775819L, 1302600079L, 1742466877L,
    751378427L, 2104729149L, 386269119L, 366873135L)

  /** k-wide MinHash signature from an already-hashed long-array column.
    * Hash the units ONCE with [[unitHashes]] and feed the longs here — the k
    * permutations are then pure integer arithmetic; inlining the md5 into
    * each of the k branches would cost k× the hashing (no common-subexpr
    * elimination inside higher-order-function lambdas).
    */
  def signatureFromHashes(th: Column, k: Int): Column = {
    require(k <= A.length, s"at most ${A.length} hash functions available")
    array((0 until k).map { i =>
      array_min(transform(th, h => (lit(A(i)) * h + lit(B(i))) % P))
    }: _*)
  }

  /** 60-bit md5 hashes (mod P) of a string-array column — one md5 per unit. */
  def unitHashes(units: Column): Column =
    transform(units, u => TF.hash60(u) % P)

  /** Convenience: signature straight from strings (hashes once internally
    * only when the input column is already materialized; prefer the
    * two-step form inside pipelines).
    */
  def signature(units: Column, k: Int): Column =
    signatureFromHashes(unitHashes(units), k)

  /** Exact n-gram-Jaccard near-duplicate pairs via the inverted index:
    * group docs per 60-bit shingle hash, count the shingles each pair of
    * docs shares, verify the Jaccard threshold on the per-doc set sizes —
    * never a self-join of the exploded table.
    *
    * Hybrid execution. The per-doc shingle-hash sets are computed once and
    * pinned for the call; the pin's own job also observes their total
    * posting count (one (shingle, doc) entry per element of a doc's set),
    * so no second pass over the sets reads it. When that
    * total is at most `driverThreshold`, the ids are non-null, distinct
    * longs, and the candidate emissions Σ C(df, 2) over the postings that
    * survive the df-cut are at most `driverThreshold` too, the sets are
    * collected and the inverted index runs on the driver: dense doc
    * ordinals, postings in primitive arrays, and one counter array reused
    * per doc for its overlaps (ScanCount, Li et al., ICDE 2008). Otherwise
    * the distributed pass below runs over the same pinned sets: one
    * shuffle of postings (`CappedList`) and one of the half-size pair
    * stream. Both paths hand (doc_a, doc_b, common, na, nb) to the same
    * Jaccard expression, so their rows are identical (spec-pinned); set
    * `driverThreshold = 0` to force the distributed path.
    *
    * `maxDf` is the skew bound: a shingle posted by g docs emits C(g,2)
    * pairs inside ONE task, so an ultra-common shingle (boilerplate, stop
    * phrases) would concentrate quadratic work on a single key. Postings
    * longer than maxDf are dropped before pair generation, capping any
    * task's emission at C(maxDf,2) pairs. The cut is provably inert when
    * maxDf exceeds the corpus' max document frequency (the fixture maxes
    * at 25; spec asserts inertness). When the cut DOES bite, the emitted
    * jaccard is the exact Jaccard of the df-CUT shingle sets: per-doc set
    * sizes are computed post-cut (below), so dropping a shingle removes it
    * from numerator AND denominator consistently for every pair — the
    * standard df-cut vocabulary of all-pairs similarity search, not a
    * silent downward bias on full-set Jaccard. A pair whose only overlap
    * was over-cap shingles disappears (its retained overlap is 0).
    */
  def exactNearDuplicates(
      df: DataFrame,
      idCol: String,
      textCol: String,
      w: Int = 3,
      threshold: Double = 0.5,
      maxDf: Int = 256,
      driverThreshold: Long = 1L << 20): DataFrame = {
    require(maxDf >= 0, s"maxDf=$maxDf must be >= 0")
    val par = df.sparkSession.sparkContext.defaultParallelism
    // the posting total picks the candidate source before either reads
    // the sets, so one job pins and counts them; the returned plan reads
    // only a driver-built or eager frame
    Materialize.scopedObserving(df.repartition(par).select(col(idCol).as("__id"),
        shingleSets(col(textCol), w).as("__th")), postingTotal) { (sets, seen) =>
      exactPairs(sets, seen.getLong(0), threshold, maxDf, driverThreshold)
    }
  }

  /** The fused shingle+hash set of a text column: the sorted distinct
    * 60-bit hashes of its `w`-token shingles, never null. A text shorter
    * than `w` tokens, an empty or null one included, is one whole-text
    * shingle.
    */
  private[ops] def shingleSets(text: Column, w: Int): Column =
    graft.functions.HashExpressions.shingleHash60Array(TF.tokens(text), w)

  /** The pair pass of [[exactNearDuplicates]] over hashed sets (__id, __th
    * = [[shingleSets]]) holding `postings` postings. `sets` is read once
    * or twice, so it should be pinned or a cheap view of a pin.
    */
  private[ops] def exactPairs(sets: DataFrame, postings: Long, threshold: Double,
                              maxDf: Int, driverThreshold: Long): DataFrame = {
    val driver =
      if (postingsFit(postings, driverThreshold) && sets.schema("__id").dataType == LongType)
        candidatesOnDriver(sets, threshold, maxDf, driverThreshold)
      else None
    jaccardPairs(driver.getOrElse(distributedCandidates(sets, maxDf)), threshold)
  }

  /** The (shingle, doc) postings of sets (__th; a null set holds none):
    * the aggregate to observe.
    */
  private[ops] def postingTotal: Column = coalesce(sum(array_size(col("__th"))), lit(0L))

  /** Whether `postings` is at most `bound` and fits the driver index's
    * int-indexed arrays. A `bound` of 0 fits nothing.
    */
  private[ops] def postingsFit(postings: Long, bound: Long): Boolean =
    bound > 0 && postings <= math.min(bound, 1L << 29)

  /** The exact-Jaccard filter both candidate sources feed: (doc_a, doc_b,
    * common, na, nb) to (doc_a, doc_b, jaccard) at or above `threshold`.
    */
  private[ops] def jaccardPairs(candidates: DataFrame, threshold: Double): DataFrame =
    candidates
      .withColumn("jaccard", round(col("common").cast("double") /
        (col("na") + col("nb") - col("common")).cast("double"), 6))
      .filter(col("jaccard") >= threshold)
      .select(col("doc_a"), col("doc_b"), col("jaccard"))

  /** (doc_a, doc_b, common, na, nb) for every pair sharing a retained
    * shingle, from a distributed inverted index over `sets` (__id, __th).
    */
  private def distributedCandidates(sets: DataFrame, maxDf: Int): DataFrame = {
    val e = sets.select(col("__id"), explode(col("__th")).as("__h"))
    // Postings + df-cut in ONE pass of the posting stream (round-12,
    // guide §2.3/§2.4): CappedList bounds the aggregation buffer of an
    // over-cap shingle at maxDf+1 ids — the same skew valve the former
    // shape bought with a separate count-aggregate pass over `e` plus a
    // kept-semi-join, which re-ran the explode subtree and its exchange
    // three times (profiled at q61: 3 stages × ~3 s task-time each
    // writing the identical 2.5 MB). An under-cut shingle's list is
    // complete by construction, so the cut semantics are unchanged.
    //
    // Postings are materialized eagerly (Materialize): their three
    // consumers (sz, the pair stream, and the sz broadcast builds) are
    // submitted as CONCURRENT broadcast-future jobs, and a lazy postings
    // subtree makes each of them re-run the explode and grouping pass.
    // The eager pin also outlives the caller's release of `sets`.
    val postings = Materialize.eager(e.groupBy(col("__h"))
      .agg(graft.functions.CappedList.cappedList(col("__id"),
          // maxDf = Int.MaxValue means "cut off": clamp instead of overflow
          if (maxDf >= Int.MaxValue) Int.MaxValue else maxDf + 1)
          .as("__ds0"),
        count(lit(1)).as("__df"))
      .filter(col("__df") <= maxDf)
      .select(col("__h"), sort_array(col("__ds0")).as("ds")))
    // post-cut set size per doc: |retained shingles| — derived from the
    // CUT postings (≡ the former kept-rows count: each kept (doc,
    // shingle) row appears in exactly one under-cut posting); every doc
    // appearing in any pair has ≥1 retained shingle, so the inner joins
    // below lose nobody
    val sz = postings.select(explode(col("ds")).as("__id"))
      .groupBy(col("__id")).agg(count(lit(1)).as("__n"))
    postings
      .select(explode(graft.functions.HashExpressions.orderedPairs(col("ds"))).as("p"))
      .groupBy(col("p.doc_a"), col("p.doc_b"))
      .agg(count(lit(1)).as("common"))
      .join(sz.select(col("__id").as("doc_a"), col("__n").as("na")), "doc_a")
      .join(sz.select(col("__id").as("doc_b"), col("__n").as("nb")), "doc_b")
  }

  /** The candidates of [[distributedCandidates]] as a local frame built on
    * the driver, or None when the pair emissions exceed `bound` or the ids
    * are not distinct non-null longs (dense ordinals need distinct ids;
    * null and repeated ids keep the distributed path's handling).
    */
  private def candidatesOnDriver(sets: DataFrame, threshold: Double,
                                 maxDf: Int, bound: Long): Option[DataFrame] = {
    val spark = sets.sparkSession
    import spark.implicits._
    val docs = sets.as[(java.lang.Long, Array[Long])].collect()
    sortedDistinct(docs.map(_._1)).flatMap { ids =>
      val byOrdinal = new Array[Array[Long]](docs.length)
      docs.foreach { case (id, set) => byOrdinal(java.util.Arrays.binarySearch(ids, id)) = set }
      indexCandidates(spark, ids, byOrdinal, threshold, maxDf, bound)
    }
  }

  /** `ids` ascending, or None when one is null or repeats. */
  private[ops] def sortedDistinct(ids: Array[java.lang.Long]): Option[Array[Long]] = {
    if (ids.contains(null)) return None
    val sorted = ids.map(_.longValue)
    java.util.Arrays.sort(sorted)
    if ((1 until sorted.length).exists(i => sorted(i) == sorted(i - 1))) None
    else Some(sorted)
  }

  /** The (doc_a, doc_b, common, na, nb) candidates of a [[ShingleIndex]]
    * over doc `ids(i)`'s set `sets(i)`, ids ascending, as a local frame; or
    * None when the index's pair emissions exceed `bound`. Pairs that cannot
    * reach `threshold` are dropped early; the margin keeps every pair whose
    * ROUNDED jaccard could.
    */
  private[ops] def indexCandidates(
      spark: org.apache.spark.sql.SparkSession, ids: Array[Long],
      sets: Array[Array[Long]], threshold: Double, maxDf: Int,
      bound: Long): Option[DataFrame] = {
    import spark.implicits._
    val index = new ShingleIndex(sets, maxDf)
    if (index.emissions > bound) None
    else Some(index.pairs(threshold - 1e-6)
      .map { case (a, b, c, na, nb) => (ids(a), ids(b), c, na, nb) }
      .toSeq.toDF("doc_a", "doc_b", "common", "na", "nb"))
  }

  /** Driver-side inverted index over per-doc shingle-hash sets, docs
    * identified by their index in `sets`. A shingle posted by more than
    * `maxDf` docs is cut: it leaves the postings and every doc's
    * retained-set size. Flat primitive arrays throughout; the loops live
    * in methods, not the constructor, since HotSpot leaves a constructor's
    * loops interpreted (measured 10-16× slower here).
    */
  private final class ShingleIndex(sets: Array[Array[Long]], maxDf: Int) {
    private val n = sets.length
    // doc d's entries are docStart(d) until docStart(d + 1) of `sid`
    private val docStart = sets.scanLeft(0)(_ + _.length)
    // each entry's shingle as a dense id (first-seen order), and per id
    // its document frequency; ids below `distinct` are in use
    private val sid = new Array[Int](docStart(n))
    private val df = new Array[Int](docStart(n))
    private val distinct = internShingles()
    // shingle s posts start(s) until start(s + 1) of `postings`: the
    // retained shingles' docs, ascending; `setSize` is each doc's
    // post-cut set size
    private val start = postingStarts()
    private val setSize = new Array[Int](n)
    private val postings = fillPostings()

    private def retained(s: Int): Boolean = df(s) <= maxDf

    /** Fills `sid` and `df` through an open-addressing table of capacity
      * a power of two at least twice the entries (slots hold id + 1, 0 =
      * empty); returns the number of distinct shingles.
      */
    private def internShingles(): Int = {
      var cap = 2
      while (cap < 2 * sid.length) cap <<= 1
      val mask = cap - 1
      val keys = new Array[Long](cap)
      val slots = new Array[Int](cap)
      var u = 0
      var d = 0
      while (d < n) {
        val set = sets(d)
        var j = 0
        while (j < set.length) {
          val h = set(j)
          // the hashes are md5 prefixes: their low bits are uniform
          var i = (h ^ (h >>> 32)).toInt & mask
          while (slots(i) != 0 && keys(i) != h) i = (i + 1) & mask
          if (slots(i) == 0) { keys(i) = h; u += 1; slots(i) = u }
          val q = docStart(d) + j
          sid(q) = slots(i) - 1
          df(sid(q)) += 1
          j += 1
        }
        d += 1
      }
      u
    }

    private def postingStarts(): Array[Int] = {
      val st = new Array[Int](distinct + 1)
      var s = 0
      while (s < distinct) {
        st(s + 1) = st(s) + (if (retained(s)) df(s) else 0); s += 1
      }
      st
    }

    private def fillPostings(): Array[Int] = {
      val post = new Array[Int](start(distinct))
      val fill = start.clone()
      var d = 0
      while (d < n) {
        var q = docStart(d)
        while (q < docStart(d + 1)) {
          val s = sid(q)
          if (retained(s)) { post(fill(s)) = d; fill(s) += 1; setSize(d) += 1 }
          q += 1
        }
        d += 1
      }
      post
    }

    /** Σ C(df, 2) over retained shingles: the pair emissions a full pass
      * makes, each once per shared shingle.
      */
    def emissions: Long = {
      var e = 0L
      var s = 0
      while (s < distinct) {
        val g = (start(s + 1) - start(s)).toLong
        e += g * (g - 1) / 2; s += 1
      }
      e
    }

    /** (a, b, common, na, nb) for every doc pair a < b sharing a retained
      * shingle with common / (na + nb - common) >= floor (ScanCount). Docs
      * are visited in order and each posting is doc-ascending, so at doc d
      * a posting's later entries start right after its cursor: each shared
      * shingle is counted once.
      */
    def pairs(floor: Double): Array[(Int, Int, Long, Long, Long)] = {
      val out = scala.collection.mutable.ArrayBuilder.make[(Int, Int, Long, Long, Long)]
      val cursor = start.clone()
      val common = new Array[Int](n)
      val touched = new Array[Int](n)
      var d = 0
      while (d < n) {
        var nt = 0
        var q = docStart(d)
        while (q < docStart(d + 1)) {
          val s = sid(q)
          if (retained(s)) {
            cursor(s) += 1
            var k = cursor(s)
            while (k < start(s + 1)) {
              val o = postings(k)
              if (common(o) == 0) { touched(nt) = o; nt += 1 }
              common(o) += 1
              k += 1
            }
          }
          q += 1
        }
        val na = setSize(d).toLong
        var t = 0
        while (t < nt) {
          val o = touched(t)
          val c = common(o).toLong
          val nb = setSize(o).toLong
          if (c.toDouble / (na + nb - c).toDouble >= floor) out += ((d, o, c, na, nb))
          common(o) = 0
          t += 1
        }
        d += 1
      }
      out.result()
    }
  }

  /** Near-dup detection for corpora with large EXACT-duplicate groups — the
    * canonical 100 TB pipeline shape. A group of g byte-identical documents
    * collides in EVERY band of any bucketed blocker (identical content →
    * identical signatures), forcing g²-per-bucket work no banding parameter
    * can avoid: measured 10×-replicated sf0.1 (50k docs, groups of 10) takes
    * the naive pass from ~2.5 s to ~56 s. Collapsing first is both faster
    * AND the more useful output shape (dup GROUPS, not C(g,2) pair rows).
    *
    * Returns (canonicalPairs, membership):
    *  - canonicalPairs: [[nearDuplicates]] over one representative per
    *    distinct content (doc_a, doc_b, jaccard);
    *  - membership: (canonical_id, member_id) — every input doc mapped to
    *    its representative (exact dups share one canonical_id). A pair
    *    (a, b) in canonicalPairs means every member of a's group is a
    *    near-dup of every member of b's group.
    */
  def nearDuplicatesCollapsed(
      df: DataFrame,
      idCol: String,
      textCol: String,
      w: Int = 3,
      k: Int = 64,
      rowsPerBand: Int = 2,
      threshold: Double = 0.5): (DataFrame, DataFrame) = {
    val (canonicalDocs, membership) = Dedup.collapseByContent(df, Seq(textCol), idCol)
    (nearDuplicates(canonicalDocs, idCol, textCol, w, k, rowsPerBand, threshold),
      membership)
  }

  /** Collapse-first form of [[exactNearDuplicates]] — the inverted-index
    * pass suffers the same g² blowup on duplicate groups (every posting
    * carries all g copies: measured 10×-replicated sf0.1 takes it from
    * ~1.5 s to ~350 s; collapsed it is ~10 s). `driverThreshold` is the
    * pair pass's (0 forces its distributed path).
    */
  def exactNearDuplicatesCollapsed(
      df: DataFrame,
      idCol: String,
      textCol: String,
      w: Int = 3,
      threshold: Double = 0.5,
      maxDf: Int = 256,
      driverThreshold: Long = 1L << 20): (DataFrame, DataFrame) = {
    val (canonicalDocs, membership) = Dedup.collapseByContent(df, Seq(textCol), idCol)
    (exactNearDuplicates(canonicalDocs, idCol, textCol, w, threshold, maxDf,
        driverThreshold),
      membership)
  }

  /** Near-duplicate pairs with exact Jaccard ≥ `threshold` over `w`-token
    * shingles, candidates generated by (k, rowsPerBand) LSH.
    * Output: doc_a, doc_b (idCol values, a < b), jaccard (round 6).
    *
    * `maxBucket` (0 = off) is the bucket-skew safety valve: an LSH bucket
    * holding g docs emits C(g,2) candidates in one task, and a corpus with
    * massive exact-duplicate groups puts the whole group in the same bucket
    * in EVERY band. Buckets larger than maxBucket are dropped before the
    * candidate join. Recall caveat when enabled: a pair co-bucketed ONLY in
    * over-cap buckets is lost — for exact-duplicate groups every band's
    * bucket is over cap together, so cap at (expected dup-group size)+
    * headroom, or pre-collapse exact duplicates with [[Dedup.exactByContent]]
    * before the LSH pass (the shape a 100 TB pipeline wants anyway).
    */
  def nearDuplicates(
      df: DataFrame,
      idCol: String,
      textCol: String,
      w: Int = 3,
      k: Int = 64,
      rowsPerBand: Int = 2,
      threshold: Double = 0.5,
      maxBucket: Int = 0): DataFrame = {
    val bands = k / rowsPerBand
    // Documents often arrive as few small files (one parquet split) — fan
    // the per-document hashing out across all cores before the heavy work.
    val par = df.sparkSession.sparkContext.defaultParallelism
    // Fused shingle+hash ONCE (compiled tokenize-window-md5 → sorted
    // 60-bit set; one hash per distinct shingle string, so size(__th) IS
    // the shingle-set size); the same array feeds the k-permutation
    // signature AND the exact verification merge below. Bit-identical to
    // the HOF reference — pinned by spec.
    val hashed = df.repartition(par).select(col(idCol).as("__id"),
        shingleSets(col(textCol), w).as("__th"))
      .select(col("__id"), size(col("__th")).as("__n"), col("__th"))
    // The banded self-join + the two verification joins would otherwise
    // re-evaluate the hashing subtree once per reference — materialize it
    // (a few KB per document; at cluster scale this is the natural
    // materialization point anyway: signatures are written once and reused
    // per batch).
    val sig = Materialize.eager(hashed.select(col("__id"), col("__n"), col("__th"),
      graft.functions.HashExpressions
        .minhashSignature(col("__th"), k, A.take(k), B.take(k)).as("__sig")))

    // One row per (doc, band); bucket key is the band's signature slice.
    // xxhash64 over (band, slice) only shrinks the shuffle key — collisions
    // would only add candidates, which exact verification prunes.
    val banded = sig.select(col("__id"),
      explode(array((0 until bands).map { b =>
        struct(lit(b).as("band"),
          xxhash64(lit(b), slice(col("__sig"), b * rowsPerBand + 1, rowsPerBand))
            .as("bucket"))
      }: _*)).as("__b"))
      .select(col("__id"), col("__b.band"), col("__b.bucket"))

    val gated =
      if (maxBucket <= 0) banded
      else banded.withColumn("__bc",
          count(lit(1)).over(org.apache.spark.sql.expressions.Window
            .partitionBy(col("band"), col("bucket"))))
        .filter(col("__bc") <= maxBucket)
        .drop("__bc")

    val cand = gated.as("x").join(gated.as("y"),
        col("x.band") === col("y.band") &&
        col("x.bucket") === col("y.bucket") &&
        col("x.__id") < col("y.__id"))
      .select(col("x.__id").as("doc_a"), col("y.__id").as("doc_b"))
      .distinct()

    // Exact verification: Jaccard over the hashed shingle sets (linear merge
    // of the sorted arrays; hash collisions would need ~2^61 shingle pairs).
    val sets = sig.select(col("__id"), col("__n"), col("__th"))
    val withSets = cand
      .join(sets.select(col("__id").as("doc_a"), col("__n").as("__na"),
        col("__th").as("__ta")), "doc_a")
      .join(sets.select(col("__id").as("doc_b"), col("__n").as("__nb"),
        col("__th").as("__tb")), "doc_b")
    val inter = graft.functions.HashExpressions
      .sortedIntersectCount(col("__ta"), col("__tb"))
    val union = col("__na") + col("__nb") - inter
    withSets
      .withColumn("jaccard",
        round(inter.cast("double") / union.cast("double"), 6))
      .filter(col("jaccard") >= threshold)
      .select(col("doc_a"), col("doc_b"), col("jaccard"))
  }
}
