package graft.dedup

import graft.functions.Portable.dsum
import graft.plans.Materialize.PinOps
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** MinHash/LSH parameter calibration on a deterministic sample — the
  * audit a pipeline runs BEFORE committing a (bands, rows) choice to a
  * 100 TB dedup pass. On a bounded sample it compares, per exact-Jaccard
  * bin:
  *   - `mean_est`: the signature agreement fraction (the similarity the
  *     sketch THINKS pairs have);
  *   - `catch_rate`: the fraction of pairs an any-band-collision LSH
  *     would actually candidate;
  *   - `theory`: the S-curve 1 − (1 − s^r)^b at the bin midpoint.
  * A healthy configuration shows catch_rate hugging theory and mean_est
  * hugging the bin; drift means the shingle distribution violates the
  * minhash independence assumptions (boilerplate-dominated docs do
  * this) and the thresholds need re-tuning BEFORE the corpus run.
  *
  * Scale shape: everything is sample-bounded — the sample is a
  * TakeOrderedAndProject (`ORDER BY id LIMIT n`, deterministic), exact
  * Jaccard comes from the sample's shingle self-join, and the report is
  * nBins rows. Pairs sharing zero shingles never appear (there is
  * nothing to enumerate them by — documented; the sub-threshold bins
  * measure the near-miss region, which is what matters for tuning).
  * Powers in the S-curve unroll to repeated multiplication (no libm
  * pow), so the report is engine-exact.
  */
object LshTuning {

  def calibrationReport(
      docs: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text",
      sampleN: Int = 150,
      numHashes: Int = 8,
      bands: Int = 4,
      shingleN: Int = 5,
      nBins: Int = 10): DataFrame = {
    require(numHashes % bands == 0, s"numHashes $numHashes must divide into $bands bands")
    val rows = numHashes / bands
    val sample = docs
      .select(col(idCol).as("id"), col(textCol).as("text"))
      .orderBy(col("id")).limit(sampleN)
      .pin(true)
    val shh = Dedup.shingleHashTable(sample, "id", "text", shingleN)
    val cnt = shh.groupBy("id").agg(count(lit(1)).as("n_sh"))
    val com = shh.as("a")
      .join(shh.as("b"), col("a.sh") === col("b.sh") && col("a.id") < col("b.id"))
      .groupBy(col("a.id").as("ia"), col("b.id").as("ib"))
      .agg(count(lit(1)).as("nc"))
    val jac = com
      .join(cnt.select(col("id").as("ia"), col("n_sh").as("na")), "ia")
      .join(cnt.select(col("id").as("ib"), col("n_sh").as("nb")), "ib")
      .select(col("ia"), col("ib"),
        (col("nc").cast("double") /
          (col("na") + col("nb") - col("nc")).cast("double")).as("jac"))
    val sig = Dedup.minhashSignatures(sample, numHashes, shingleN, "id", "text")
    def side(tag: String, idAs: String) =
      sig.select(col("id").as(idAs) +:
        (0 until numHashes).map(j => col(s"minhash_$j").as(s"$tag$j")): _*)
    val joined = jac.join(side("a", "ia"), "ia").join(side("b", "ib"), "ib")
    val agree = (0 until numHashes)
      .map(j => when(col(s"a$j") === col(s"b$j"), 1L).otherwise(0L))
      .reduce(_ + _)
    val caught = (0 until bands)
      .map(b => (b * rows until (b + 1) * rows)
        .map(j => col(s"a$j") === col(s"b$j")).reduce(_ && _))
      .reduce(_ || _)
    val bin = least(lit(nBins - 1L), floor(col("jac") * nBins).cast("long"))
    val binned = joined
      .select(bin.as("bin"),
        (agree.cast("double") / numHashes).as("__est"), // exact multiple of 1/numHashes
        when(caught, 1L).otherwise(0L).as("__c"))
      .groupBy("bin")
      .agg(
        count(lit(1)).as("n_pairs"),
        dsum(col("__est")).as("__se"),
        sum(col("__c")).as("__nc"))
    val s = (col("bin").cast("double") + 0.5) / nBins
    val sr = Seq.fill(rows)(s).reduce(_ * _)
    val miss = Seq.fill(bands)(lit(1.0) - sr).reduce(_ * _)
    binned.select(
      col("bin"), col("n_pairs"),
      (col("__se") / col("n_pairs").cast("double")).as("mean_est"),
      (col("__nc").cast("double") / col("n_pairs").cast("double")).as("catch_rate"),
      (lit(1.0) - miss).as("theory"))
  }
}
