package graft.ops

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions.{array, concat, least, lit, map}
import graft.{Queries, TestSpark}

/** Operators materialize their shared intermediates call-scoped (eager
  * local checkpoints freed with the result), never as session cache
  * entries: repeated near-dup passes in one long-lived session must not
  * grow the CacheManager, and a repeated call must recompute the same
  * answer rather than read a leftover cache. The iterative graph loops
  * release each finished round and their pinned inputs before returning,
  * so a call leaves no persisted RDD behind but the result's own blocks.
  */
class CacheRetentionSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  /** 40 random base docs, each with a one-token variant (3-shingle Jaccard
    * ≈ 0.8) and every fifth with an exact copy; ids disjoint per seed.
    */
  private def corpus(seed: Int): DataFrame = {
    val rnd = new scala.util.Random(seed)
    def doc() = Vector.fill(20 + rnd.nextInt(20))(s"w${rnd.nextInt(2000)}")
    val texts = (0 until 40).flatMap { i =>
      val d = doc()
      val variant = d.updated(rnd.nextInt(d.length), s"v$seed$i")
      Seq(d, variant) ++ (if (i % 5 == 0) Seq(d) else Nil)
    }
    texts.zipWithIndex
      .map { case (t, i) => (seed * 1000L + i, t.mkString(" ")) }
      .toDF("doc_id", "text")
  }

  private def runs(seed: Int): DataFrame = {
    val rnd = new scala.util.Random(seed)
    (1 to 600).map(i => ("g" + (i % 3), i.toLong, rnd.nextInt(100).toLong))
      .toDF("g", "o", "v").repartition(3)
  }

  /** Each operator as one call on the input of a seed. */
  private val ops: Seq[(String, Int => DataFrame)] = Seq(
    "Dedup.nearDupGroups" -> (s => Dedup.nearDupGroups(corpus(s), "doc_id", "text")),
    "Dedup.nearDupGroups distributed" ->
      (s => Dedup.nearDupGroups(corpus(s), "doc_id", "text", driverThreshold = 0)),
    "MinHashLSH.exactNearDuplicates" ->
      (s => MinHashLSH.exactNearDuplicates(corpus(s), "doc_id", "text")),
    "MinHashLSH.exactNearDuplicates distributed" -> (s =>
      MinHashLSH.exactNearDuplicates(corpus(s), "doc_id", "text", driverThreshold = 0)),
    "MinHashLSH.nearDuplicates" ->
      (s => MinHashLSH.nearDuplicates(corpus(s), "doc_id", "text")),
    "PrefixSum.withRunningSum" ->
      (s => PrefixSum.withRunningSum(runs(s), Seq("g"), Seq("o"), "v", "cum",
        partitions = 4)),
    "SignatureStore.incrementalPairs" -> { s =>
      // even ids are the stored corpus, odd ids the new batch: each base
      // doc and its variant sit on opposite sides
      val sigs = SignatureStore.signatures(corpus(s), "doc_id", "text")
      SignatureStore.incrementalPairs(
        sigs.filter($"doc_id" % 2 === 0), sigs.filter($"doc_id" % 2 === 1))
    })

  private def rows(df: DataFrame): Seq[Row] =
    df.collect().toSeq.sortBy(_.toString)

  test("near-dup, prefix-sum and signature-store calls leave no CacheManager entries") {
    // the session is shared with earlier suites: start from an empty cache
    spark.sharedState.cacheManager.clearCache()
    for ((name, op) <- ops; seed <- Seq(1, 2)) {
      assert(rows(op(seed)).nonEmpty, s"$name on seed $seed found nothing")
      assert(spark.sharedState.cacheManager.isEmpty,
        s"$name on seed $seed left a cached plan in the session")
    }
  }

  test("a repeated call on the same input returns the same rows") {
    for ((name, op) <- ops)
      assert(rows(op(3)) === rows(op(3)), name)
  }

  test("graph operators on an empty graph fail loud and leave no cached plan") {
    val empty = Seq.empty[(Long, Long)].toDF("s", "d")
    val calls: Seq[(String, () => DataFrame)] = Seq(
      "Hits.ranks" -> (() => Hits.ranks(empty, "s", "d")),
      "Hits.ranks distributed" ->
        (() => Hits.ranks(empty, "s", "d", driverThreshold = 0)),
      "PageRank.ranks" -> (() => PageRank.ranks(empty, "s", "d")),
      "PageRank.ranks distributed" ->
        (() => PageRank.ranks(empty, "s", "d", driverThreshold = 0)))
    spark.sharedState.cacheManager.clearCache()
    for ((name, call) <- calls) {
      val before = persistedIds()
      intercept[IllegalArgumentException](call())
      assert(spark.sharedState.cacheManager.isEmpty,
        s"$name left a cached plan in the session")
      assert((persistedIds() -- before).isEmpty,
        s"$name left persisted RDDs behind")
    }
  }

  private def persistedIds(): Set[Int] =
    spark.sparkContext.getPersistentRDDs.keySet.toSet

  /** A 12-vertex path (several propagation rounds) with a triangle fan at
    * one end (a 2-core, a 3-truss and label ties), weights 1..n.
    */
  private lazy val graph: DataFrame =
    ((1L until 12L).map(v => (v, v + 1)) ++
      Seq((1L, 3L), (2L, 4L), (1L, 4L), (3L, 5L)))
      .zipWithIndex.map { case ((a, b), i) => (a, b, i + 1L) }
      .toDF("s", "d", "w")

  /** The iterative operators, forced onto their distributed loops. */
  private lazy val loops: Seq[(String, () => DataFrame)] = {
    val source = Seq(1L).toDF("v")
    Seq(
      "ConnectedComponents.run" ->
        (() => ConnectedComponents.run(graph, "s", "d", driverThreshold = 0)),
      "KCore.peel" ->
        (() => KCore.peel(graph, "s", "d", k = 2, rounds = 4, driverThreshold = 0)),
      "PageRank.ranks" ->
        (() => PageRank.ranks(graph, "s", "d", iterations = 3, driverThreshold = 0)),
      "PageRank.ranksWeighted" -> (() => PageRank.ranksWeighted(graph, "s", "d",
        "w", iterations = 3, driverThreshold = 0)),
      "Hits.ranks" ->
        (() => Hits.ranks(graph, "s", "d", iterations = 3, driverThreshold = 0)),
      "ShortestPath.boundedPaths" -> (() => ShortestPath.boundedPaths(graph,
        "s", "d", "w", source, rounds = 5, driverThreshold = 0)),
      "LabelProp.communities" -> (() => LabelProp.communities(graph, "s", "d",
        rounds = 3, driverThreshold = 0)),
      "Bfs.kHopDistances" -> (() => Bfs.kHopDistances(graph, "s", "d",
        source, "v", maxHops = 4, driverThreshold = 0)),
      "MultiBfs.perSourceDistances" -> (() => MultiBfs.perSourceDistances(
        graph, "s", "d", source, "v", maxHops = 4, driverThreshold = 0)),
      "KTruss.peel" ->
        (() => KTruss.peel(graph, "s", "d", k = 3, rounds = 3, driverThreshold = 0)),
      "KTruss.fixpointState" -> (() =>
        KTruss.fixpointState(graph, "s", "d", k = 3, driverThreshold = 0).edges),
      "Mmr.diversify" -> { () =>
        // each edge's source is a query, its neighbours the candidates
        val cands = graph.select($"s".as("q"), $"d".as("id"), $"w".as("rel"))
        val sims = cands.as("a").join(cands.as("b"), "q")
          .filter($"a.id" =!= $"b.id")
          .select($"q", $"a.id".as("id"), $"b.id".as("id_b"),
            ($"a.rel" * $"b.rel" % 7).as("sim"))
        Mmr.diversify(cands, sims, "q", "id", "rel", "id_b", "sim", k = 3,
          driverThreshold = 0)
      },
      "GreedyCover.select" -> (() => GreedyCover.select(
        graph.select(($"s" % 3).as("g"), $"d".as("id"),
          array($"s".cast("string"), ($"w" % 4).cast("string")).as("toks")),
        "g", "id", "toks", k = 3)))
  }

  test("distributed graph loops keep only the blocks behind their result") {
    for ((name, call) <- loops) {
      val before = persistedIds()
      val out = call()
      val kept = out.queryExecution.analyzed.collect {
        case l: LogicalRDD => l.rdd.id
      }.toSet
      assert((persistedIds() -- before -- kept).isEmpty,
        s"$name left intermediate RDDs persisted")
      // every released frame is gone for good: the result must not read one
      assert(rows(out).nonEmpty, s"$name returned nothing")
    }
  }

  test("exact near-dup passes keep only the blocks behind their result") {
    val nearDup = ops.filter { case (name, _) =>
      name.startsWith("Dedup.nearDupGroups") || name.startsWith("MinHashLSH.exactNearDuplicates")
    }
    for ((name, op) <- nearDup) {
      val before = persistedIds()
      val out = op(4)
      val kept = out.queryExecution.analyzed.collect {
        case l: LogicalRDD => l.rdd.id
      }.toSet
      assert((persistedIds() -- before -- kept).isEmpty,
        s"$name left intermediate RDDs persisted")
      assert(rows(out).nonEmpty, s"$name returned nothing")
    }
  }

  test("exactNearDuplicates releases its pinned shingle sets when a step throws") {
    // map-typed ids pass the hashing pin, then fail the postings sort
    val bad = corpus(5).select(map($"doc_id", $"text").as("doc_id"), $"text")
    for (driverThreshold <- Seq(1L << 20, 0L)) {
      val before = persistedIds()
      intercept[org.apache.spark.sql.AnalysisException](MinHashLSH
        .exactNearDuplicates(bad, "doc_id", "text", driverThreshold = driverThreshold))
      assert((persistedIds() -- before).isEmpty,
        s"a failed pass at driverThreshold $driverThreshold left its pin persisted")
    }
  }

  test("nearDupGroups releases its pinned corpus when a step throws") {
    // string ids pass the pin (the canonical min and the hashing), then
    // fail in the pair pass, whose pairs carry long ids
    val bad = corpus(6).select(concat(lit("d"), $"doc_id").as("doc_id"), $"text")
    for (driverThreshold <- Seq(1L << 20, 0L)) {
      val before = persistedIds()
      val e = intercept[Exception](Dedup
        .nearDupGroups(bad, "doc_id", "text", driverThreshold = driverThreshold))
      assert(e.getMessage.contains("CAST_INVALID_INPUT"), e.getMessage)
      assert((persistedIds() -- before).isEmpty,
        s"a failed grouping at driverThreshold $driverThreshold left its pin persisted")
    }
  }

  /** A frame over fresh blocks, so a pin taken of it is a new RDD. */
  private def numbers(n: Int): DataFrame = spark.range(n).toDF("x")

  test("Materialize.iterate stops at the round cap and reports the rounds run") {
    val before = persistedIds()
    val (out, n) = Materialize.iterate(numbers(3), rounds = 4) { df =>
      df.select(($"x" + 1).as("x"))
    }
    assert(n === 4)
    assert(out.as[Long].collect().sorted === Array(4L, 5L, 6L))
    Materialize.release(out)
    assert((persistedIds() -- before).isEmpty, "a round stayed pinned")
  }

  test("Materialize.iterate stops at convergence, after reading both rounds") {
    val before = persistedIds()
    // min(x + 1, 5) reaches its fixpoint {5} after 5 rounds; the 6th
    // round is the one that shows no change
    val unchanged = (prev: DataFrame, next: DataFrame) =>
      prev.exceptAll(next).isEmpty && next.exceptAll(prev).isEmpty
    val (out, n) = Materialize.iterate(numbers(1), rounds = 25, unchanged) { df =>
      df.select(least($"x" + 1, lit(5L)).as("x"))
    }
    assert(n === 6)
    assert(out.as[Long].collect() === Array(5L))
    Materialize.release(out)
    assert((persistedIds() -- before).isEmpty, "a round stayed pinned")
  }

  test("Materialize.iterate releases every round when a step throws") {
    val before = persistedIds()
    var round = 0
    val err = intercept[IllegalStateException] {
      Materialize.iterate(numbers(3), rounds = 5) { df =>
        round += 1
        if (round == 2) throw new IllegalStateException("round 2 fails")
        df.select(($"x" * 2).as("x"))
      }
    }
    assert(err.getMessage === "round 2 fails")
    assert((persistedIds() -- before).isEmpty,
      "a failed iterate left persisted RDDs behind")
  }

  test("Materialize.scoped releases its pin when the body throws") {
    val before = persistedIds()
    var seen: DataFrame = null
    intercept[IllegalStateException] {
      Materialize.scoped(numbers(3)) { pinned =>
        seen = pinned
        assert(pinned.count() === 3L)
        throw new IllegalStateException("body fails")
      }
    }
    assert(seen != null)
    assert((persistedIds() -- before).isEmpty,
      "a failed scope left its pin persisted")
  }

  test("q104, q177 and q186 leave no CacheManager entries") {
    spark.sharedState.cacheManager.clearCache()
    for (name <- Seq("q104_ivf_recall", "q177_pq_recall", "q186_trunc_recall")) {
      val out = Queries.byName(name).fn(spark, "/root/testdata/sf0.001")
      assert(out.collect().nonEmpty, s"$name returned nothing")
      assert(spark.sharedState.cacheManager.isEmpty,
        s"$name left a cached plan in the session")
    }
  }
}
