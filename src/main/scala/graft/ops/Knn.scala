package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.{VectorFunctions => VF}

/** Similarity search over an embedding column (`array<float>`) — the ANN
  * surface of the LLM-data-pipeline north star (BASELINE.json).
  *
  * Two tiers:
  *  - [[topKByCosine]] — exact brute-force scan; the correctness baseline.
  *    One pass, no shuffle (TakeOrderedAndProject keeps only k rows per
  *    partition then merges on the driver).
  *  - [[ivfTopK]] — inverted-file ANN: vectors are pre-bucketed by a coarse
  *    quantizer cell (here the `label` column stands in for a k-means cell
  *    id; at 100 TB you'd train centroids once and store the cell id at
  *    ingest, making cells partition keys). Query probes only the nProbe
  *    cells whose centroids are nearest — a partition-pruned scan reading
  *    nProbe/|cells| of the data.
  */
object Knn {

  /** Exact top-k by cosine against a constant query vector.
    * Scores rounded to 6 dp with id tie-break so the ordering is total.
    */
  def topKByCosine(
      emb: DataFrame, idCol: String, vecCol: String,
      query: Seq[Double], k: Int): DataFrame =
    emb.filter(col(vecCol).isNotNull)  // null-vector exclusion (see topKJoin)
      .select(col(idCol),
        round(VF.cosineToQuery(VF.toDouble(col(vecCol)), query), 6).as("cos"))
      .orderBy(col("cos").desc, col(idCol).asc)
      .limit(k)

  /** Embedding-cosine near-duplicate pairs, exact: all ordered pairs with
    * cosine ≥ threshold (compiled [[graft.functions.HashExpressions.CosineSim]]
    * — the interpreted HOF dot product is ~100× slower inside an all-pairs
    * join).
    *
    * Exact pair enumeration is Θ(n²) COMPARISONS by necessity — at a loose
    * threshold on diffuse vectors (no margin between the closest reject and
    * the farthest accept) no sublinear candidate generator can promise
    * recall 1. What CAN be made scale-safe is the execution shape, so this
    * is a **block-tiled pair join**, not a BroadcastNestedLoopJoin:
    * vectors are hashed into `blocks` groups; each of the C(blocks,2)+blocks
    * tiles (i ≤ j) is one equi-join key, so the work lands as uniform
    * independent tasks, per-task memory is bounded by 2·n/blocks vectors
    * (choose blocks ∝ √cluster-size at scale), nothing is broadcast, and
    * the cosine threshold sits inside the join condition so non-qualifying
    * pairs die in the probe loop without materializing. For genuinely
    * sublinear candidate generation use [[srpCandidatePairs]] /
    * [[srpVerifiedPairs]] at a high threshold where the LSH gap is real.
    */
  def nearDuplicatePairs(
      emb: DataFrame, idCol: String, vecCol: String, threshold: Double,
      blocks: Int = 0, cellCol: Option[String] = None): DataFrame = {
    val par = emb.sparkSession.sparkContext.defaultParallelism
    // ~2 tiles per core by default: tiles = nb·(nb+1)/2 ≈ 2·par
    val nb = math.max(2, if (blocks > 0) blocks else math.ceil(math.sqrt(4.0 * par)).toInt)
    // Optional cell scoping (ops/SemDeDup): the cell joins as an extra
    // equi-key, so only same-cell pairs are generated — the pair count
    // drops from |corpus|² to Σ|cell|², which is the entire point of
    // cluster-bounded dedup. The tile structure is unchanged (pairs still
    // meet exactly once).
    val cellKey = cellCol.map(c => col(c).as("__cell")).toSeq
    val withG = emb.select(Seq(col(idCol).as("__id"), col(vecCol).as("__v"),
      pmod(hash(col(idCol)), lit(nb)).as("__g")) ++ cellKey: _*)
    // role A serves tiles (g, j ≥ g); role B serves tiles (i ≤ g, g): an
    // unordered pair from blocks (gx ≤ gy) meets exactly once, in tile
    // (gx, gy) — twice (both orientations) only on diagonal tiles, where
    // the id inequality keeps one.
    // Explicit hash-partitioning on the tile key: the join reuses it (no
    // extra shuffle), and — unlike AQE-planned shuffles — a user repartition
    // is never coalesced. The shuffled BYTES here are tiny (vectors ×
    // replication), so AQE would otherwise fuse everything into one
    // partition and serialize the Θ(n²) probe-side compute, which the
    // byte-based advisory size cannot see. 4 partitions per tile: tile ids
    // hash arbitrarily, and at ~1 partition per tile the birthday-collision
    // stragglers (2-3 heavy tiles in one partition) bound wall-clock —
    // measured 143s → 23s at 200M pairs / 32 cores.
    val nTilePartitions = nb * (nb + 1) / 2 * 4
    val cellA = cellCol.map(_ => col("__cell").as("__cella")).toSeq
    val cellB = cellCol.map(_ => col("__cell").as("__cellb")).toSeq
    val a = withG.select(Seq(col("__id").as("vec_a"), col("__v").as("__va"),
        col("__g").as("__ga"),
        explode(sequence(col("__g"), lit(nb - 1))).as("__tj")) ++ cellA: _*)
      .withColumn("__tile", col("__ga") * nb + col("__tj"))
      .repartition(math.max(par, nTilePartitions), col("__tile"))
    val b = withG.select(Seq(col("__id").as("vec_b"), col("__v").as("__vb"),
        col("__g").as("__gb"),
        explode(sequence(lit(0), col("__g"))).as("__ti")) ++ cellB: _*)
      .withColumn("__tile", col("__ti") * nb + col("__gb"))
      .repartition(math.max(par, nTilePartitions), col("__tile"))
    val cos = round(
      graft.functions.HashExpressions.cosineSim(col("__va"), col("__vb")), 6)
    val sameCell = cellCol.fold(lit(true))(_ =>
      col("__cella") === col("__cellb"))
    a.join(b, a("__tile") === b("__tile") && sameCell &&
        (col("__ga") =!= col("__gb") || col("vec_a") < col("vec_b")) &&
        cos >= threshold)
      .withColumn("cos", cos)
      // off-diagonal tiles carry one arbitrary orientation — normalize ids
      .select(least(col("vec_a"), col("vec_b")).as("vec_a"),
        greatest(col("vec_a"), col("vec_b")).as("vec_b"), col("cos"))
  }

  /** SRP-LSH candidate pairs: vectors sharing at least one `rowsPerBand`-bit
    * chunk of their signed-random-projection signature. Candidates estimate
    * high-cosine pairs; callers re-verify exactly (same verify-after-block
    * shape as MinHashLSH). Shuffles only (chunk, value) buckets — the
    * 100 TB-safe alternative to the quadratic [[nearDuplicatePairs]].
    */
  def srpCandidatePairs(
      emb: DataFrame, idCol: String, vecCol: String,
      nPlanes: Int = 48, rowsPerBand: Int = 8, maxBucket: Int = 0): DataFrame = {
    val bands = nPlanes / rowsPerBand
    val mask = (1L << rowsPerBand) - 1
    val sig = emb.select(col(idCol).as("__id"),
      graft.functions.HashExpressions.srpSignature(col(vecCol), nPlanes).as("__sig"))
    val banded = sig.select(col("__id"),
      explode(array((0 until bands).map { i =>
        struct(lit(i).as("chunk"),
          shiftright(col("__sig"), i * rowsPerBand).bitwiseAND(lit(mask)).as("cval"))
      }: _*)).as("__c"))
      .select(col("__id"), col("__c.chunk"), col("__c.cval"))
    // Same bucket-skew valve as MinHashLSH/SimHash (maxBucket = 0 → off):
    // a bucket of g signatures emits C(g,2) candidates in one task. Recall
    // caveat when enabled mirrors theirs — exact-duplicate vectors share
    // EVERY bucket, so pre-collapse exact dups before capping.
    val chunked =
      if (maxBucket <= 0) banded
      else banded.withColumn("__bc",
          count(lit(1)).over(org.apache.spark.sql.expressions.Window
            .partitionBy(col("chunk"), col("cval"))))
        .filter(col("__bc") <= maxBucket)
        .drop("__bc")
    chunked.as("x").join(chunked.as("y"),
        col("x.chunk") === col("y.chunk") &&
        col("x.cval") === col("y.cval") &&
        col("x.__id") < col("y.__id"))
      .select(col("x.__id").as("vec_a"), col("y.__id").as("vec_b"))
      .distinct()
  }

  /** SRP candidates + exact-cosine verification: the verified sublinear
    * near-dup surface (blocked-then-verify, same shape as MinHashLSH).
    * Exact-duplicate vectors hash to IDENTICAL signatures — the signature
    * is a deterministic function of the values — so for duplicate/near-1
    * detection recall is exactly 1 by construction, not probabilistically;
    * at lower thresholds recall follows 1-(1-p^r)^b with p = 1-θ/π.
    * Candidates are re-scored exactly, so false candidates never escape.
    * The flip side of guaranteed dup collision: a corpus with LARGE
    * duplicate groups pays C(g,2) per bucket in every band — pre-collapse
    * with [[Dedup.collapseByContent]] (contentCols = the vector column)
    * exactly as with the text near-dup passes.
    */
  def srpVerifiedPairs(
      emb: DataFrame, idCol: String, vecCol: String, threshold: Double,
      nPlanes: Int = 48, rowsPerBand: Int = 8): DataFrame = {
    val cand = srpCandidatePairs(emb, idCol, vecCol, nPlanes, rowsPerBand)
    val va = emb.select(col(idCol).as("vec_a"), col(vecCol).as("__va"))
    val vb = emb.select(col(idCol).as("vec_b"), col(vecCol).as("__vb"))
    cand.join(va, "vec_a").join(vb, "vec_b")
      .withColumn("cos", round(
        graft.functions.HashExpressions.cosineSim(col("__va"), col("__vb")), 6))
      .filter(col("cos") >= threshold)
      .select(col("vec_a"), col("vec_b"), col("cos"))
  }

  /** Incremental SRP near-dup: verified pairs that TOUCH the new batch —
    * the embedding twin of [[SignatureStore.incrementalPairs]] (text
    * minhash, q69). The store×store quadrant is never generated: those
    * pairs were emitted when their rows were new, so a daily batch costs
    * |batch|-driven bucket work, not a corpus re-pairing. Store vectors
    * are never re-read beyond their (id, signature, vector) projection;
    * at scale, persist the signature table and this join touches only
    * matching (chunk, value) buckets.
    *
    * Pair accounting: batch×store pairs emit as (new_id, dup_id) with no
    * order constraint (the store partner was never paired with this row
    * before); batch×batch pairs emit once (id order). Ids must be unique
    * across batch ∪ store. Candidates re-verify with exact cosine, so
    * false bucket collisions never escape; recall for exact/near-1 dups
    * is 1 by construction (identical vectors share every band).
    */
  def srpIncrementalPairs(
      batch: DataFrame, store: DataFrame,
      idCol: String, vecCol: String, threshold: Double,
      nPlanes: Int = 48, rowsPerBand: Int = 8): DataFrame = {
    val bands = nPlanes / rowsPerBand
    val mask = (1L << rowsPerBand) - 1
    def banded(df: DataFrame, isNew: Boolean): DataFrame = df
      .filter(col(vecCol).isNotNull)
      .select(col(idCol).as("__id"),
        graft.functions.HashExpressions.srpSignature(col(vecCol), nPlanes).as("__sig"))
      .select(col("__id"), lit(isNew).as("__new"),
        explode(array((0 until bands).map { i =>
          struct(lit(i).as("chunk"),
            shiftright(col("__sig"), i * rowsPerBand).bitwiseAND(lit(mask)).as("cval"))
        }: _*)).as("__c"))
      .select(col("__id"), col("__new"), col("__c.chunk"), col("__c.cval"))
    val nb = banded(batch, isNew = true)
    val all = nb.unionByName(banded(store, isNew = false))
    val cand = nb.as("x").join(all.as("y"),
        col("x.chunk") === col("y.chunk") &&
        col("x.cval") === col("y.cval") &&
        // store partner: any distinct id; batch partner: ordered (emit once)
        ((!col("y.__new") && col("x.__id") =!= col("y.__id")) ||
          (col("y.__new") && col("x.__id") < col("y.__id"))))
      .select(col("x.__id").as("new_id"), col("y.__id").as("dup_id"))
      .distinct()
    val va = batch.select(col(idCol).as("new_id"), col(vecCol).as("__va"))
    val vb = batch.unionByName(store)
      .select(col(idCol).as("dup_id"), col(vecCol).as("__vb"))
    cand.join(va, "new_id").join(vb, "dup_id")
      .withColumn("cos", round(
        graft.functions.HashExpressions.cosineSim(col("__va"), col("__vb")), 6))
      .filter(col("cos") >= threshold)
      .select(col("new_id"), col("dup_id"), col("cos"))
  }

  /** Batch k-NN join: for EVERY query vector, the top-k corpus neighbors by
    * cosine — the retrieval join of an embedding pipeline (dedup against a
    * reference set, nearest-example lookup, hard-negative mining).
    *
    * Scale shape: queries are broadcast (bounded driver collect — same role
    * as a broadcast dimension), the corpus streams through a narrow
    * mapPartitions keeping a bounded k-heap per query (no row-pair
    * materialization), then only the P·Q·k partial winners shuffle for the
    * final per-query top-k — never the Q×C cross product. For huge Q set
    * `maxShardQueries`: the query set is chunked, each shard scans the
    * corpus with its own bounded broadcast + heaps, and the shard partials
    * union ahead of the final window (identical output — spec-pinned).
    *
    * Cosine is rounded to 6dp BEFORE ranking (HALF_UP, identical to Spark's
    * `round` and the oracle's) with id tie-break, so results are total-order
    * deterministic and engine-independent.
    *
    * CONTRACT: the query set is collected to the driver — Q must fit driver
    * heap (the broadcast-dimension shape; `maxShardQueries` bounds executor
    * memory only). Misuse fails loud: at most `maxDriverQueries + 1` rows
    * are ever fetched (the collect is limit-bounded, so the check itself
    * cannot OOM the driver), and exceeding the bound throws with a pointer
    * to [[cellTopKJoin]], which keeps the query side a DataFrame end-to-end.
    */
  def topKJoin(
      queries: DataFrame, corpus: DataFrame,
      qIdCol: String, qVecCol: String, cIdCol: String, cVecCol: String,
      k: Int, maxShardQueries: Int = 0,
      maxDriverQueries: Int = 1 << 20): DataFrame = {
    require(maxDriverQueries >= 1 && maxDriverQueries < Int.MaxValue,
      "maxDriverQueries must be in [1, Int.MaxValue)")
    val spark = corpus.sparkSession
    import spark.implicits._
    // NULL-vector exclusion (repo-wide kNN convention): a null embedding
    // cannot participate in similarity — it would NPE the JVM kernels and
    // driver collects that a codegen'd null check never sees.
    val qs: Array[(Long, Array[Float])] = queries
      .select(col(qIdCol).cast("long"), col(qVecCol))
      .filter(col(qVecCol).isNotNull)
      .limit(maxDriverQueries + 1)
      .as[(Long, Array[Float])].collect()
    require(qs.length <= maxDriverQueries,
      s"query side exceeds maxDriverQueries=$maxDriverQueries rows — " +
        "topKJoin collects queries to the driver (broadcast-dimension " +
        "contract); use Knn.cellTopKJoin for unbounded query sets " +
        "(keeps the query side a DataFrame end-to-end)")

    // Sharding bounds EXECUTOR-side memory for huge query sets: each task's
    // heap array is |shard|·k entries (not Q·k) and each broadcast ships
    // |shard| vectors. Each shard re-scans the corpus — at Q beyond a few
    // shards, persist/bucket the corpus so those are cached columnar scans
    // (the batch-retrieval shape: the corpus is the big side, scanned
    // sequentially; the queries are the dimension). maxShardQueries ≤ 0 →
    // one shard (small-Q fast path, no union overhead).
    val shards: Seq[Array[(Long, Array[Float])]] =
      if (maxShardQueries <= 0 || qs.length <= maxShardQueries) Seq(qs)
      else qs.grouped(maxShardQueries).toSeq

    def cos6(a: Array[Float], b: Array[Float]): Double = {
      val n = math.min(a.length, b.length)
      var dot = 0.0; var na = 0.0; var nb = 0.0
      var i = 0
      while (i < n) {
        val x = a(i).toDouble; val y = b(i).toDouble
        dot += x * y; na += x * x; nb += y * y
        i += 1
      }
      // zero-norm convention: cosine 0.0 (BigDecimal.valueOf(NaN) throws)
      if (na == 0.0 || nb == 0.0) return 0.0
      // Spark round(_, 6) semantics: BigDecimal HALF_UP
      java.math.BigDecimal.valueOf(dot / (math.sqrt(na) * math.sqrt(nb)))
        .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()
    }

    def shardPartials(shard: Array[(Long, Array[Float])])
        : (DataFrame, org.apache.spark.broadcast.Broadcast[Array[(Long, Array[Float])]]) = {
      val bc = spark.sparkContext.broadcast(shard)
      val df = corpus.select(col(cIdCol).cast("long"), col(cVecCol))
        .filter(col(cVecCol).isNotNull)
        .as[(Long, Array[Float])]
        .mapPartitions { it =>
          val queryArr = bc.value
          // min-heap per query: head = worst kept (lowest cos, then highest id)
          val worstFirst: Ordering[(Double, Long)] = Ordering.by(t => (-t._1, t._2))
          val heaps = Array.fill(queryArr.length)(
            scala.collection.mutable.PriorityQueue.empty[(Double, Long)](worstFirst))
          it.foreach { case (cid, cvec) =>
            var qi = 0
            while (qi < queryArr.length) {
              val c = cos6(queryArr(qi)._2, cvec)
              val h = heaps(qi)
              if (h.size < k) h.enqueue((c, cid))
              else {
                val (wc, wid) = h.head
                if (c > wc || (c == wc && cid < wid)) { h.dequeue(); h.enqueue((c, cid)) }
              }
              qi += 1
            }
          }
          heaps.iterator.zipWithIndex.flatMap { case (h, qi) =>
            h.iterator.map { case (c, cid) => (queryArr(qi)._1, cid, c) }
          }
        }
        .toDF("query_id", "vec_id", "cos")
      (df, bc)
    }

    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("vec_id").asc)
    def finalTopK(partials: DataFrame): DataFrame = partials
      .withColumn("__rn", org.apache.spark.sql.functions.row_number().over(w))
      .filter(col("__rn") <= k)
      .drop("__rn")

    // Single shard: stay lazy (one broadcast, freed with the plan). Multi-
    // shard: eagerly materialize each shard's partials (localCheckpoint
    // truncates lineage to the stored blocks) so the shard broadcast can
    // be destroyed immediately — otherwise shard-sized broadcasts
    // accumulate on driver and executors for the life of the session.
    // The final top-k is then itself checkpointed eagerly so every shard's
    // P·|shard|·k partial blocks can be freed right here — only the Q·k
    // ANSWER rows stay in block storage, until the caller drops the result
    // (see Materialize for the truncated-lineage tradeoff).
    if (shards.lengthCompare(1) == 0) finalTopK(shardPartials(shards.head)._1)
    else {
      val eagers = shards.map { shard =>
        val (df, bc) = shardPartials(shard)
        val eager = Materialize.eager(df)
        bc.destroy()
        eager
      }
      val result = Materialize.eager(finalTopK(eagers.reduce(_.unionAll(_))))
      Materialize.release(eagers: _*)
      result
    }
  }

  /** Cell-partitioned batch k-NN join — the unbounded-Q form of
    * [[topKJoin]]: the query set stays a DataFrame end to end (nothing is
    * ever collected to the driver except the kCells×dim centroid list).
    *
    * Shape: train the coarse quantizer on the corpus ([[kmeansCentroids]] —
    * at 100 TB, on a `trainFraction` sample), stamp every corpus row with
    * its best cell (compiled argmax — k inline cosines, no UDF), explode
    * every query row to its `nProbe` nearest cells, then equi-join on the
    * cell and fold the candidates straight into a k-bounded
    * [[graft.functions.BoundedTopK]] aggregate per query. The partial
    * aggregate runs in the same stage as the join, so the only exchanges
    * are the cell-keyed join shuffles and a ≤k-pairs-per-(partition, query)
    * aggregation exchange — the Q×C cross product never materializes and
    * no row set is bounded by driver or executor heap.
    *
    * A hot cell (one dense cluster) would otherwise serialize its
    * |Q_cell|×|C_cell| probe work onto one join task, so the join key is
    * (cell, salt): corpus rows take a deterministic salt in [0, splits),
    * queries replicate across all of them — same pair set, ×splits
    * parallelism for every cell (the static form of what AQE's skew-join
    * splitting does, effective even where AQE can't see the compute density
    * behind small shuffle bytes).
    *
    * With `nProbe = kCells` every (query, corpus) pair meets exactly once
    * — provably identical to [[topKJoin]] (spec-pinned) regardless of how
    * training converged; smaller nProbe trades recall for reading
    * ~nProbe/kCells of the corpus per query, exactly like [[ivfTopK]].
    * Cosine is rounded to 6dp before ranking with id tie-break (the
    * BoundedTopK order), so results are total-order deterministic.
    */
  def cellTopKJoin(
      queries: DataFrame, corpus: DataFrame,
      qIdCol: String, qVecCol: String, cIdCol: String, cVecCol: String,
      k: Int, kCells: Int, nProbe: Int, iters: Int = 3,
      trainFraction: Double = 1.0, splits: Int = 4): DataFrame = {
    require(nProbe >= 1 && nProbe <= kCells, s"nProbe must be in [1, $kCells]")
    require(splits >= 1, "splits must be >= 1")
    val cents = kmeansCentroids(corpus, cVecCol, kCells, iters, trainFraction)
    val c = corpus.select(col(cIdCol).cast("long").as("vec_id"),
        col(cVecCol).as("__cv"))
      .filter(col("__cv").isNotNull)   // null-vector exclusion (see topKJoin)
      .withColumn("__cell", assignExpr(col("__cv"), cents))
      .withColumn("__salt", pmod(hash(col("vec_id")), lit(splits)))
    val q = queries.select(col(qIdCol).cast("long").as("query_id"),
        col(qVecCol).as("__qv"))
      .filter(col("__qv").isNotNull)
      .withColumn("__cell", explode(probeCellsExpr(col("__qv"), cents, nProbe)))
      .withColumn("__salt", explode(sequence(lit(0), lit(splits - 1))))
    val cos = round(
      graft.functions.HashExpressions.cosineSim(col("__qv"), col("__cv")), 6)
    q.join(c, Seq("__cell", "__salt"))
      .select(col("query_id"), col("vec_id"), cos.as("cos"))
      .groupBy(col("query_id"))
      .agg(graft.functions.BoundedTopK
        .topkPairs(col("cos"), col("vec_id"), k).as("__top"))
      .select(col("query_id"), posexplode(col("__top")))
      .select(col("query_id"), col("col.id").as("vec_id"),
        col("col.score").as("cos"))
  }

  /** The `nProbe` best cells for a vector, best first (cosine desc, ties to
    * the lowest cell index — consistent with [[assignExpr]]).
    */
  private def probeCellsExpr(vec: org.apache.spark.sql.Column,
                             cents: Seq[Seq[Double]],
                             nProbe: Int): org.apache.spark.sql.Column = {
    // centroids as ONE complex literal (codegen reference, stable plan
    // shape across trainings — see assignExpr); the indexed transform
    // rebuilds the same (cos, -j) structs the inlined form produced
    val scored = transform(typedlit(cents.map(_.toSeq).toSeq),
      (c, j) => struct(graft.functions.HashExpressions
        .cosineSim(vec, c).as("c"), (-j).cast("int").as("nj")))
    // ascending struct sort = (cos asc, nj asc); reversed = cos desc with
    // ties to the highest nj = lowest cell index
    transform(slice(reverse(array_sort(scored)), 1, nProbe),
      s => (s.getField("nj") * -1).cast("int"))
  }

  /** Best cell for a vector given driver-side centroids: argmax of cosine,
    * ties to the LOWEST cell index, via the compiled
    * [[graft.functions.HashExpressions.PqAssign]] scan (strict-greater =
    * first best wins — exactly the struct-max-on-(cos, -j) rule, same
    * cosine kernel as [[graft.functions.HashExpressions.CosineSim]], so
    * values are bit-identical to the former k-struct form; PqSpec pins
    * the equivalence). The centroids enter as ONE array<array<double>>
    * literal (a codegen REFERENCE — the [[Pq]] round-11 device), so the
    * expression tree and generated source are identical across Lloyd
    * iterations and farthest-first seeds whose centroid VALUES differ:
    * no per-job Catalyst re-analysis or Janino recompile (q104/q54
    * profiled as scheduler/compile-gap-bound: 35 serial jobs, 15-100 ms
    * gaps between them).
    */
  private def assignExpr(vec: org.apache.spark.sql.Column,
                         cents: Seq[Seq[Double]]): org.apache.spark.sql.Column =
    graft.functions.HashExpressions.pqAssign(vec,
      typedlit(cents.map(_.toSeq).toSeq))

  private def rowVec(r: org.apache.spark.sql.Row): Seq[Double] =
    r.getSeq[Any](0).map(x => x.asInstanceOf[Number].doubleValue())

  /** Lloyd's k-means over cosine similarity — trains the IVF coarse
    * quantizer that [[ivfTopK]] consumes. Returns the k centroids
    * (index = cell id).
    *
    * Shape per iteration: one scan of the (pinned, narrow) training
    * projection assigning each vector to its best centroid via a compiled
    * argmax-of-k expression (k inline cosines — no UDF, no shuffle), then
    * the per-cell elementwise mean: a (cell, pos) hash aggregate with
    * map-side partials — k·dim result rows collected to the driver (the
    * same tiny-aggregate role the probe selection plays). Cells that lose
    * all members keep their previous centroid.
    *
    * At 100 TB you train on a sample — `trainFraction` bounds the training
    * scan; assignment of the FULL corpus happens once, at ingest, with
    * [[kmeansAssign]] (store the cell id as a partition key so IVF probes
    * become partition pruning).
    *
    * Init is deterministic farthest-first traversal (the 2-approximation
    * to k-center, and k-means++'s deterministic cousin): seed with the
    * min-hash vector, then k−1 times take the vector whose best cosine to
    * any chosen centroid is LOWEST (hash tie-break). Each step is one scan
    * + `limit(1)` over the pinned training projection — k tiny jobs,
    * reproducible across runs (no seed-sensitive sampling in the plan),
    * and well-separated clusters are guaranteed one seed each (random
    * init can double-seed a cluster, and Lloyd's can never un-merge).
    * (Callers training MANY codebooks at once — [[Pq]]'s m per-subspace
    * quantizers — do their own joint hash-batch seeding instead: there the
    * m×ksub serial seed jobs would be pure scheduler latency.)
    */
  def kmeansCentroids(
      emb: DataFrame, vecCol: String, k: Int, iters: Int,
      trainFraction: Double = 1.0): Seq[Seq[Double]] = {
    require(k >= 1 && iters >= 1)
    // Keep the RAW element type (float or double): CosineSim resolves its
    // accessors statically per side, so no per-scan array cast is needed.
    val base = emb.select(col(vecCol).as("__v"))
      .filter(col("__v").isNotNull)    // null-vector exclusion (see topKJoin)
    val train = Materialize.eager(if (trainFraction < 1.0)
      base.sample(withReplacement = false, trainFraction, seed = 42) else base)
    try {
      // Farthest-point seeding, one collect job per seed. Measured against
      // a single-job hash-ordered seed batch: total training time was
      // UNCHANGED (the k-1 jobs are not the bottleneck on a pinned sample)
      // while the spread seeding holds a visibly better worst-case recall
      // margin (min_hit 5-6 vs 4 at nProbe=kCells/2) — so the extra jobs
      // earn their latency.
      val first = train.orderBy(hash(col("__v")).asc).limit(1)
        .collect().map(rowVec)
      // Fail loud at training time: an empty training projection (empty
      // input, or trainFraction sampling everything away) would otherwise
      // skip seeding and downstream kmeansAssign would stamp null cells.
      require(first.nonEmpty,
        s"empty k-means training set (trainFraction=$trainFraction)")
      var cents: Seq[Seq[Double]] = first.toSeq
      while (cents.length < k) {
        // centroids-so-far as ONE complex literal (codegen reference):
        // the k-1 seed jobs then share a single compiled plan shape
        // instead of paying Catalyst + Janino per seed (same device as
        // assignExpr; cosine values unchanged — same compiled kernel)
        val closeness = array_max(
          transform(typedlit(cents.map(_.toSeq).toSeq),
            c => graft.functions.HashExpressions.cosineSim(col("__v"), c)))
        val next = train.withColumn("__cl", closeness)
          .orderBy(col("__cl").asc, hash(col("__v")).asc)
          .limit(1).collect()
        cents = cents ++ next.map(rowVec)
      }
      var it = 0
      while (it < iters) {
        val assigned = train.withColumn("cell", assignExpr(col("__v"), cents))
        val means: Map[Int, Seq[Double]] = centroids(assigned, "cell", "__v")
          .collect()
          .map(r => r.getInt(0) -> r.getSeq[Double](1).toSeq).toMap
        cents = cents.indices.map(j => means.getOrElse(j, cents(j)))
        it += 1
      }
      cents
    } finally Materialize.release(train)
  }

  /** Adds the trained quantizer's cell id (`cellCol`) to every row — the
    * ingest-time step that makes IVF probes partition-prunable at scale.
    */
  def kmeansAssign(emb: DataFrame, vecCol: String,
                   cents: Seq[Seq[Double]], cellCol: String = "cell"): DataFrame =
    emb.withColumn(cellCol, assignExpr(col(vecCol), cents))

  /** IVF ANN with a TRAINED quantizer: k-means centroids → cell assignment
    * → cell-pruned probe. With nProbe = kCells this is provably exact
    * (every cell probed ⇒ brute force) regardless of how training
    * converged — the oracle surface. Partial probes trade recall for a
    * nProbe/kCells scan, spec'd in KmeansIvfSpec.
    */
  def ivfTopKTrained(
      spark: SparkSession, emb: DataFrame, idCol: String, vecCol: String,
      query: Seq[Double], k: Int, kCells: Int, nProbe: Int,
      iters: Int = 3, trainFraction: Double = 1.0): DataFrame = {
    val cents = kmeansCentroids(emb, vecCol, kCells, iters, trainFraction)
    val withCell = kmeansAssign(emb, vecCol, cents, "__cell")
    ivfTopK(spark, withCell, idCol, vecCol, "__cell", query, k, nProbe)
  }

  /** Per-cell centroids (elementwise mean of vectors). Output: cell, centroid. */
  def centroids(emb: DataFrame, cellCol: String, vecCol: String): DataFrame =
    emb.select(col(cellCol).as("cell"),
        posexplode(VF.toDouble(col(vecCol))).as(Seq("pos", "v")))
      .groupBy(col("cell"), col("pos")).agg(avg(col("v")).as("m"))
      .groupBy(col("cell"))
      .agg(transform(array_sort(collect_list(struct(col("pos"), col("m")))),
        s => s.getField("m")).as("centroid"))

  /** IVF ANN: rank cells by centroid cosine, scan only the top `nProbe`
    * cells, exact top-k within them. The probed-cell selection is a tiny
    * aggregate (|cells| rows) collected to the driver — the same role a
    * broadcast dimension plays in the reference's star schema.
    */
  def ivfTopK(
      spark: SparkSession, emb: DataFrame, idCol: String, vecCol: String,
      cellCol: String, query: Seq[Double], k: Int, nProbe: Int): DataFrame = {
    val cents = centroids(emb, cellCol, vecCol)
    val probed: Array[Any] = cents
      .select(col("cell"),
        VF.cosineToQuery(col("centroid"), query).as("c"))
      .orderBy(col("c").desc, col("cell").asc)
      .limit(nProbe)
      .collect().map(_.get(0))
    topKByCosine(
      emb.filter(col(cellCol).isin(probed.toSeq: _*)), idCol, vecCol, query, k)
  }
}
