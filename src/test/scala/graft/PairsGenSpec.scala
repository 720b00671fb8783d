package graft

import graft.functions.Pairs
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Parity pins for the streaming [[Pairs.pairs]] generator against the
  * interpreted `explode(Pairs.orderedPairs(...))` HOF form it replaced on
  * the dedup/assoc/fuzzy hot paths: same rows, same order, same schema,
  * same NULL/short-array behavior — including under buffering consumers
  * (groupBy, sort, collect), which would expose any unsafe row reuse.
  */
class PairsGenSpec extends SparkSpec {
  import spark.implicits._

  private lazy val longArrays = Seq(
    (1L, Seq(10L, 20L, 30L, 40L)),
    (2L, Seq(5L, 7L)),
    (3L, Seq(42L)), // size < 2: no pairs
    (4L, Seq.empty[Long]), // empty: no pairs
    (5L, (1L to 60L)) // big enough to stress the iterator
  ).toDF("id", "ids")

  private lazy val withNullArray =
    longArrays.withColumn("ids", when(col("id") =!= 3L, col("ids"))) // id 3 -> NULL array

  test("long pairs: identical rows and order vs the HOF form") {
    val hof = longArrays
      .select(col("id"), explode(Pairs.orderedPairs(col("ids"), "a", "b")).as("p"))
      .select(col("id"), col("p.a"), col("p.b"))
    val gen = Pairs.pairs(longArrays, col("ids"), "a", "b", keep = Seq(col("id")))
    assert(gen.schema == hof.schema)
    assert(gen.collect().toSeq == hof.collect().toSeq)
  }

  test("NULL array generates zero rows, like explode(flatten(transform(NULL)))") {
    val hof = withNullArray
      .select(col("id"), explode(Pairs.orderedPairs(col("ids"), "a", "b")).as("p"))
      .select(col("id"), col("p.a"), col("p.b"))
    val gen = Pairs.pairs(withNullArray, col("ids"), "a", "b", keep = Seq(col("id")))
    assert(gen.collect().toSeq == hof.collect().toSeq)
    assert(gen.filter(col("id") === 3L).count() == 0)
  }

  test("string pairs survive a buffering consumer (groupBy + sort)") {
    val df = Seq(
      Seq("ant", "bee", "cat", "dog"),
      Seq("ant", "bee"),
      Seq("zebu")
    ).toDF("ns")
    val hof = df
      .select(explode(Pairs.orderedPairs(col("ns"), "a", "b")).as("p"))
      .groupBy(col("p.a").as("a"), col("p.b").as("b")).agg(count(lit(1)).as("n"))
      .orderBy("a", "b")
    val gen = Pairs.pairs(df, col("ns"), "a", "b")
      .groupBy(col("a"), col("b")).agg(count(lit(1)).as("n"))
      .orderBy("a", "b")
    assert(gen.collect().toSeq == hof.collect().toSeq)
  }

  test("pair count is m*(m-1)/2 under aggregation") {
    val m = 60
    val n = Pairs.pairs(longArrays.filter(col("id") === 5L), col("ids"), "a", "b").count()
    assert(n == m.toLong * (m - 1) / 2)
  }

  test("bucketPairs: cap is inclusive, over-cap buckets drop whole, pairs ascending") {
    val cap = 3
    // bucket k: exactly cap members (kept); o: cap + 1 (dropped whole);
    // s: a singleton; n: only NULL ids. Members arrive unsorted.
    val rows = Seq(
      "k" -> 30L, "k" -> 10L, "k" -> 20L,
      "o" -> 4L, "o" -> 1L, "o" -> 3L, "o" -> 2L,
      "s" -> 7L).map { case (k, id) => (k, Option(id)) } ++
      Seq(("n", None), ("n", None))
    val df = rows.toDF("k", "id").withColumn("vec", array(col("id").cast("float")))
    val collects = Seq[(String, DataFrame => DataFrame)](
      "longs" -> (d => Pairs.bucketPairs(d, Seq("k"), col("id"), cap, "a", "b")),
      "vectors" -> (d => Pairs.bucketPairs(d, Seq("k"), col("id"), col("vec"), cap, "a", "b")
        .select(col("a.id").as("a"), col("b.id").as("b"))))
    for ((name, run) <- collects) {
      val out = run(df).as[(Long, Long)].collect().toSeq
      assert(out == Seq((10L, 20L), (10L, 30L), (20L, 30L)), name)
    }
  }

  test("jaccard size-ratio prune changes nothing: pruned == unpruned+filter") {
    import graft.dedup.Dedup
    // size-skewed docs around the 0.8 boundary: b embeds a's 5-shingles in
    // a longer doc (ratio prunes it), c is a's exact twin (survives), d/e
    // sit exactly AT the ratio boundary (n_min/n_max == 4/5 = 0.8 shingles)
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta"), // 2 5-shingles
      (2L, "alpha beta gamma delta epsilon zeta eta theta iota kappa " +
        "lam mu nu xi omicron pi rho sigma tau upsilon"), // long superset
      (3L, "alpha beta gamma delta epsilon zeta"), // exact twin of 1
      (4L, "one two three four five six seven eight"), // 4 5-shingles
      (5L, "one two three four five six seven eight nine") // 5 5-shingles
    ).toDF("doc_id", "text")
    for (t <- Seq(0.4, 0.5, 0.8)) {
      val pruned = Dedup.ngramJaccardPairs(docs, threshold = t, n = 5)
        .orderBy("id_a", "id_b").collect().toSeq
      val unpruned = Dedup
        .commonShinglePairs(docs, 5, "doc_id", "text", maxDocFreq = 1000)
        .select(col("id_a"), col("id_b"),
          (col("n_common").cast("double") /
            (col("n_a") + col("n_b") - col("n_common"))).as("jaccard"))
        .filter(col("jaccard") >= t)
        .orderBy("id_a", "id_b").collect().toSeq
      assert(pruned == unpruned, s"threshold $t")
    }
  }
}
