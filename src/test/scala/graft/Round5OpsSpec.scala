package graft

import graft.multimodal.Multimodal
import graft.operators.Outliers
import graft.pipeline.Splits
import graft.text.Bm25
import org.apache.spark.sql.functions._

/** Round-5 batch: group-aware splits, BM25 batch retrieval, MAD robust
  * outliers, perceptual image dHash near-dup.
  */
class Round5OpsSpec extends SparkSpec {
  import spark.implicits._

  // ------------------------------------------------------- groupAwareSplit

  private val splitDocs =
    (1L to 10L).map(i => (i, s"doc $i")).toDF("doc_id", "text")
  // two near-dup clusters: {1,2} rep 1 and {5,6} rep 5
  private val clusters =
    Seq((1L, 1L), (2L, 1L), (5L, 5L), (6L, 5L)).toDF("id", "cluster_id")

  test("groupAwareSplit: cluster members always share a split") {
    val out = Splits
      .groupAwareSplit(splitDocs, clusters, Seq("train" -> 8, "val" -> 1, "test" -> 1))
      .collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("split"))
      .toMap
    assert(out.size == 10)
    assert(out(1L) == out(2L), "cluster {1,2} must ride one die roll")
    assert(out(5L) == out(6L), "cluster {5,6} must ride one die roll")
    assert(out.values.forall(Set("train", "val", "test")))
  }

  test("groupAwareSplit: singleton assignment is the hash of the doc's own id") {
    val withC = Splits
      .groupAwareSplit(splitDocs, clusters, Seq("a" -> 1, "b" -> 1), seed = "s")
    val noC = Splits
      .groupAwareSplit(
        splitDocs, clusters.filter(lit(false)), Seq("a" -> 1, "b" -> 1), seed = "s")
    val joined = withC
      .select(col("doc_id"), col("split").as("s1"))
      .join(noC.select(col("doc_id"), col("split").as("s2")), "doc_id")
      .filter(!col("doc_id").isin(1L, 2L, 5L, 6L))
    assert(joined.filter(col("s1") =!= col("s2")).count() == 0,
      "unclustered docs must hash identically with or without a clusters frame")
  }

  test("groupAwareSplit: clusters join broadcasts, corpus never shuffles") {
    val plan = Splits
      .groupAwareSplit(splitDocs, clusters, Seq("train" -> 9, "test" -> 1))
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), s"expected broadcast join:\n$plan")
  }

  // -------------------------------------------------------- retrieveTopK

  private val corpus = Seq(
    (1L, "join hash merge join"),   // all 3 q1 terms, join twice
    (2L, "join hash"),              // 2 of 3
    (3L, "scan filter column"),     // q2 only
    (4L, "nothing relevant here"),
    (5L, "join")                    // 1 of 3
  ).toDF("doc_id", "text")

  test("retrieveTopK: per-query ranked lists, non-matching docs absent") {
    val out = Bm25
      .retrieveTopK(
        corpus,
        Seq("q1" -> Seq("join", "hash", "merge"), "q2" -> Seq("scan", "filter", "column")),
        k = 10)
      .collect()
    val q1 = out.filter(_.getAs[String]("query_id") == "q1").sortBy(_.getAs[Long]("rank"))
    val q2 = out.filter(_.getAs[String]("query_id") == "q2")
    assert(q1.map(_.getAs[Long]("id")).toSeq == Seq(1L, 2L, 5L),
      "more matched terms => higher rank")
    assert(q2.map(_.getAs[Long]("id")).toSeq == Seq(3L), "q2 matches only doc 3")
    assert(!out.exists(_.getAs[Long]("id") == 4L), "doc with no query term never appears")
    assert(q1.map(_.getAs[Long]("rank")).toSeq == Seq(1L, 2L, 3L))
  }

  test("retrieveTopK: k caps each query's list independently") {
    val out = Bm25
      .retrieveTopK(corpus, Seq("q1" -> Seq("join"), "q2" -> Seq("scan")), k = 1)
      .collect()
    assert(out.count(_.getAs[String]("query_id") == "q1") == 1)
    assert(out.count(_.getAs[String]("query_id") == "q2") == 1)
  }

  // --------------------------------------------------------- madOutliers

  test("madOutliers: flags the wild value, not the mild tail") {
    val df = ((1 to 9).map(i => ("a", Some(i.toDouble))) :+ (("a", Some(1000.0))))
      .toDF("g", "v")
    val out = Outliers.madOutliers(df, Seq("g"), "v", k = 3.5, exact = true)
    val flagged = out.filter(col("is_outlier")).select("v").as[Double].collect()
    assert(flagged.toSeq == Seq(1000.0))
    // med 5.5, MAD 2.5 -> robust_z(9) = 3.5/(1.4826*2.5) ~ 0.944
    val z9 = out.filter(col("v") === 9.0).select("robust_z").as[Double].head()
    assert(math.abs(z9 - 3.5 / (1.4826 * 2.5)) < 1e-9)
  }

  test("madOutliers: constant group (MAD=0) and NULLs never flag") {
    val df = Seq(("c", Some(7.0)), ("c", Some(7.0)), ("c", Some(7.0)), ("c", None))
      .toDF("g", "v")
    val out = Outliers.madOutliers(df, Seq("g"), "v", exact = true).collect()
    assert(out.forall(!_.getAs[Boolean]("is_outlier")))
    assert(out.forall(_.isNullAt(out.head.fieldIndex("robust_z"))))
  }

  test("madOutliers: baselines broadcast, facts never shuffle") {
    val df = (1 to 100).map(i => (s"g${i % 3}", i.toDouble)).toDF("g", "v")
    val plan = Outliers.madOutliers(df, Seq("g"), "v").queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), s"expected broadcast joins:\n$plan")
  }

  // -------------------------------------------------------- image dHash

  private def png(f: (Int, Int) => Int, w: Int = 64, h: Int = 48): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until h; x <- 0 until w) {
      val g = f(x, y) & 0xff
      img.setRGB(x, y, (g << 16) | (g << 8) | g)
    }
    val buf = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", buf)
    buf.toByteArray
  }

  private val ramp     = png((x, _) => x * 4)            // left->right brightening
  private val rampLit  = png((x, _) => x * 4 + 10)       // same shape, brighter
  private val inverted = png((x, _) => 255 - x * 4)      // opposite gradient

  test("imageDHash: gradient direction decides the bits; garbage decodes to null") {
    val df = Seq((1L, ramp), (2L, inverted), (3L, Array.fill(32)(7.toByte)))
      .toDF("media_id", "media")
    val out = Multimodal.imageDHash(df).collect().map(r =>
      r.getAs[Long]("media_id") -> (Option(r.get(1)).map(_.asInstanceOf[Long]), r.getAs[Boolean]("decoded"))).toMap
    assert(out(1L)._2 && out(2L)._2 && !out(3L)._2)
    assert(out(3L)._1.isEmpty, "undecodable row gets a null hash, not a failure")
    assert(out(1L)._1.get != out(2L)._1.get, "opposite gradients must hash apart")
    // a uniform brightness shift preserves every gradient comparison
    val lit = Multimodal.imageDHash(Seq((9L, rampLit)).toDF("media_id", "media"))
      .collect().head.getAs[Long]("dhash")
    assert(java.lang.Long.bitCount(lit ^ out(1L)._1.get) <= 3,
      "brightness shift must stay within the near-dup radius")
  }

  test("dhashNearDupPairs: finds the re-lit copy, not the inverted image") {
    val sigs = Multimodal.imageDHash(
      Seq((1L, ramp), (2L, rampLit), (3L, inverted)).toDF("media_id", "media"))
    val pairs = Multimodal.dhashNearDupPairs(sigs, maxHamming = 3)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs == Set((1L, 2L)), s"got $pairs")
  }

  test("dhashNearDupPairs: oversized buckets are dropped whole (cap, not explode)") {
    val many = (1L to 20L).map(i => (i, ramp)).toDF("media_id", "media")
    val sigs = Multimodal.imageDHash(many)
    val capped = Multimodal.dhashNearDupPairs(sigs, maxHamming = 3, maxBucketSize = 10)
    assert(capped.count() == 0, "20 identical images over a 10-cap bucket must yield nothing")
    val uncapped = Multimodal.dhashNearDupPairs(sigs, maxHamming = 3, maxBucketSize = 100)
    assert(uncapped.count() == 20L * 19 / 2)
  }

  test("dhashNearDupPairs: every radius gets non-empty blocks (no degenerate bucket)") {
    // 1 and 2 differ once in each 8-bit block 0-7 (hamming 8) and 3 is 1's
    // complement: a ceil-width split at radius 8 leaves block 8 zero bits
    // wide, all three rows share it and the cap of 2 drops the pair
    val a = 0x5a3c96e1f00dbeefL
    val sigs = Seq((1L, a), (2L, a ^ 0x0101010101010101L), (3L, ~a)).toDF("media_id", "dhash")
    val pairs = Multimodal.dhashNearDupPairs(sigs, maxHamming = 8, maxBucketSize = 2)
      .as[(Long, Long, Int)].collect().toSet
    assert(pairs == Set((1L, 2L, 8)), s"got $pairs")
  }
}
