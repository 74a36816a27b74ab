package graft.ops

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.concat
import org.apache.spark.sql.types.IntegerType
import graft.TestSpark

/** The exact near-dup passes take long ids, or int ids that run widened to
  * long and come back as int; any other id type fails before anything is
  * pinned. Int ids once returned no pairs on either path.
  */
class NearDupIdSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  /** 30 random base docs, each with a one-token variant (3-shingle Jaccard
    * ≈ 0.8) and every fourth with an exact copy.
    */
  private lazy val longIds: DataFrame = {
    val rnd = new scala.util.Random(11)
    def doc() = Vector.fill(15 + rnd.nextInt(20))(s"w${rnd.nextInt(2000)}")
    (0 until 30).flatMap { i =>
      val d = doc()
      Seq(d, d.updated(rnd.nextInt(d.length), s"v$i")) ++ (if (i % 4 == 0) Seq(d) else Nil)
    }.zipWithIndex.map { case (t, i) => (i.toLong, t.mkString(" ")) }.toDF("doc_id", "text")
  }
  private lazy val intIds = longIds.select($"doc_id".cast(IntegerType).as("doc_id"), $"text")

  private val paths = Seq(1L << 20, 0L)

  test("int ids give the long-id pairs on both paths, typed as the caller's ids") {
    for (dt <- paths) {
      val want = MinHashLSH.exactNearDuplicates(longIds, "doc_id", "text", driverThreshold = dt)
      val got = MinHashLSH.exactNearDuplicates(intIds, "doc_id", "text", driverThreshold = dt)
      assert(got.schema("doc_a").dataType === IntegerType && got.schema("doc_b").dataType === IntegerType)
      val key = (df: DataFrame) => df.select($"doc_a".cast("long"), $"doc_b".cast("long"), $"jaccard")
        .as[(Long, Long, Double)].collect().toSet
      val pairs = key(want)
      assert(pairs.nonEmpty, s"fixture has no pairs at driverThreshold $dt")
      assert(key(got) === pairs, s"driverThreshold $dt")
    }
  }

  test("int ids give the long-id groups on both paths, typed as the caller's ids") {
    for (dt <- paths) {
      val key = (df: DataFrame) => df.select($"doc_id".cast("long"), $"group_id".cast("long"))
        .as[(Long, Long)].collect().toSet
      val want = key(Dedup.nearDupGroups(longIds, "doc_id", "text", driverThreshold = dt))
      val out = Dedup.nearDupGroups(intIds, "doc_id", "text", driverThreshold = dt)
      assert(out.schema("doc_id").dataType === IntegerType && out.schema("group_id").dataType === IntegerType)
      assert(want.map(_._2).size < want.size, s"fixture has no groups at driverThreshold $dt")
      assert(key(out) === want, s"driverThreshold $dt")
    }
  }

  test("int ids give the long-id collapsed pairs and membership") {
    for (dt <- paths) {
      val (wantPairs, wantMembers) =
        MinHashLSH.exactNearDuplicatesCollapsed(longIds, "doc_id", "text", driverThreshold = dt)
      val (gotPairs, gotMembers) =
        MinHashLSH.exactNearDuplicatesCollapsed(intIds, "doc_id", "text", driverThreshold = dt)
      val pairs = (df: DataFrame) => df.select($"doc_a".cast("long"), $"doc_b".cast("long"), $"jaccard")
        .as[(Long, Long, Double)].collect().toSet
      val members = (df: DataFrame) => df.select($"canonical_id".cast("long"), $"member_id".cast("long"))
        .as[(Long, Long)].collect().toSet
      assert(pairs(wantPairs).nonEmpty)
      assert(pairs(gotPairs) === pairs(wantPairs), s"driverThreshold $dt")
      assert(members(gotMembers) === members(wantMembers), s"driverThreshold $dt")
    }
  }

  test("string ids fail up front: nothing cached, nothing pinned") {
    val strIds = longIds.select(concat($"doc_id".cast("string"), $"text").as("doc_id"), $"text")
    val calls: Seq[(String, Long => Any)] = Seq(
      "exactNearDuplicates" -> (dt =>
        MinHashLSH.exactNearDuplicates(strIds, "doc_id", "text", driverThreshold = dt)),
      "exactNearDuplicatesCollapsed" -> (dt =>
        MinHashLSH.exactNearDuplicatesCollapsed(strIds, "doc_id", "text", driverThreshold = dt)),
      "nearDupGroups" -> (dt =>
        Dedup.nearDupGroups(strIds, "doc_id", "text", driverThreshold = dt)))
    spark.sharedState.cacheManager.clearCache()
    for ((name, call) <- calls; dt <- paths) {
      val before = spark.sparkContext.getPersistentRDDs.keySet.toSet
      val e = intercept[IllegalArgumentException](call(dt))
      assert(e.getMessage.contains("doc_id"), e.getMessage)
      assert(spark.sharedState.cacheManager.isEmpty, s"$name cached a plan")
      assert((spark.sparkContext.getPersistentRDDs.keySet.toSet -- before).isEmpty,
        s"$name at driverThreshold $dt persisted an RDD")
    }
  }
}
