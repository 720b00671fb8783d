package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Dev tool (not a test): scale the sf0.1 testdata by an integer factor
  * into multi-file parquet tables (see writeMulti for why multi-file),
  * for plan-dominated benchmarking where sf0.1 is scheduler-bound.
  *
  *   Test/runMain graft.ScaleData /root/testdata/sf0.1 /root/repo/testdata_sf1 10
  *
  * Scaling preserves the semantic shape of each table instead of blowing
  * up duplicate structure:
  *   - fact/dimension keys get a per-copy stride offset, so FK joins keep
  *     their exact selectivity and per-key row counts (no 10x-hot keys);
  *   - document TEXT is word-salted per copy (a deterministic hash picks
  *     ~20% of tokens to suffix), so within-copy duplicate/near-dup rates
  *     match the generator's but copies do NOT pair with each other —
  *     dedup candidate volume scales linearly, the way a real corpus
  *     grows, not quadratically in the copy count;
  *   - embeddings are cyclically rotated by copy index (norm and
  *     coordinate distribution preserved, direction decorrelated) so ANN
  *     and cosine-dedup don't see every point 10 times;
  *   - events keep their timestamps (density grows 10x, the realistic
  *     shape for a busier service) with ids/users stride-offset;
  *   - region/nation stay fixed (bounded real-world cardinalities).
  *
  * `events.ts` is written as micros TIMESTAMP_NTZ (Spark cannot write the
  * original TIMESTAMP(NANOS)); [[graft.sources.Tables.events]] reads both.
  */
object ScaleData {

  def main(args: Array[String]): Unit = {
    val (in, out, factor, tableArg) = args match {
      case Array(i, o)       => (i, o, 10, None)
      case Array(i, o, f)    => (i, o, f.toInt, None)
      case Array(i, o, f, t) => (i, o, f.toInt, Some(t))
      case _ => sys.error("usage: ScaleData <inDir> <outDir> [factor] [tables,csv]")
    }
    // optional table subset (e.g. "documents" for the sf100 shingle-cap
    // corpus, where scaling the relational tables would only burn disk)
    val want: String => Boolean =
      tableArg.map(_.split(",").map(_.trim).toSet).map(s => s.contains(_))
        .getOrElse(_ => true)
    require(factor >= 1, s"factor must be >= 1, got $factor")
    val spark = SessionDefaults.local(SessionDefaults.defaultCpus)
    new java.io.File(out).mkdirs()

    def copies(base: DataFrame)(transform: (DataFrame, Int) => DataFrame): DataFrame =
      (0 until factor).map(i => transform(base, i)).reduce(_ unionByName _)

    /** Scaled tables are MULTI-FILE directories (still named
      * `$name.parquet`, which Spark reads natively and DuckDB reads via a
      * star-dot-parquet glob — dev/check.py handles both layouts): the
      * single-file form scans as ONE task (splits cannot cross a parquet
      * row-group boundary and a coalesce(1) file has one 128 MiB row
      * group), serializing every pre-exchange pipeline; and even with
      * small row groups the one shared footer (thousands of row-group
      * entries) is re-parsed by every task — measured 22 ms/task on the
      * 100x lineitem, 99 s for a 1.2 s aggregation. Many modest files
      * with small row groups is also simply the layout a real corpus
      * has. File count grows with the factor so per-file size stays
      * near the original's.
      */
    val nFiles = math.min(256, math.max(8, 4 * factor))
    def writeMulti(df: DataFrame, name: String): Unit = {
      val target = s"$out/$name.parquet"
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(target))
      df.repartition(nFiles).write.mode("overwrite")
        .option("parquet.block.size", 1024 * 1024)
        .parquet(target)
      val sz = org.apache.commons.io.FileUtils.sizeOfDirectory(new java.io.File(target))
      println(s"[scale] $name: ${sz / 1024 / 1024} MiB in $nFiles files")
    }

    def writeSingle(df: DataFrame, name: String): Unit = {
      val tmp = s"$out/__tmp_$name"
      df.coalesce(1).write.mode("overwrite")
        .option("parquet.block.size", 1024 * 1024)
        .parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
        .getOrElse(sys.error(s"no part file written for $name"))
      val target = java.nio.file.Paths.get(s"$out/$name.parquet")
      java.nio.file.Files.deleteIfExists(target)
      java.nio.file.Files.move(part.toPath, target)
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(tmp))
      println(s"[scale] $name: ${java.nio.file.Files.size(target) / 1024 / 1024} MiB")
    }

    def rd(name: String): DataFrame = graft.sources.Tables.read(spark, in, name)
    def stride(df: DataFrame, key: String): Long =
      df.agg(max(col(key))).collect()(0).getLong(0) + 1L

    // fixed-cardinality dimensions: copy through unchanged
    Seq("region", "nation").filter(want).foreach(t => writeSingle(rd(t), t))

    lazy val cStride = stride(rd("customer"), "c_custkey")
    lazy val sStride = stride(rd("supplier"), "s_suppkey")
    lazy val pStride = stride(rd("part"), "p_partkey")
    lazy val oStride = stride(rd("orders"), "o_orderkey")

    if (want("customer")) writeMulti(copies(rd("customer")) { (d, i) =>
      d.withColumn("c_custkey", col("c_custkey") + lit(i * cStride))
    }, "customer")

    if (want("supplier")) writeMulti(copies(rd("supplier")) { (d, i) =>
      d.withColumn("s_suppkey", col("s_suppkey") + lit(i * sStride))
    }, "supplier")

    if (want("part")) writeMulti(copies(rd("part")) { (d, i) =>
      d.withColumn("p_partkey", col("p_partkey") + lit(i * pStride))
    }, "part")

    if (want("orders")) writeMulti(copies(rd("orders")) { (d, i) =>
      d.withColumn("o_orderkey", col("o_orderkey") + lit(i * oStride))
        .withColumn("o_custkey", col("o_custkey") + lit(i * cStride))
    }, "orders")

    if (want("lineitem")) writeMulti(copies(rd("lineitem")) { (d, i) =>
      d.withColumn("l_orderkey", col("l_orderkey") + lit(i * oStride))
        .withColumn("l_partkey", col("l_partkey") + lit(i * pStride))
        .withColumn("l_suppkey", col("l_suppkey") + lit(i * sStride))
    }, "lineitem")

    // events: go through Tables.events, which normalizes ts to micros
    // TimestampType whatever the file encodes (the driver has shipped
    // both TIMESTAMP(NANOS) and plain micros across rounds); emit
    // micros TIMESTAMP_NTZ
    if (want("events")) {
      val ev = graft.sources.Tables.events(spark, in)
      val eStride = stride(ev, "event_id")
      val uStride = stride(ev, "user_id")
      writeMulti(copies(ev) { (d, i) =>
        d.withColumn("event_id", col("event_id") + lit(i * eStride))
          .withColumn("user_id", col("user_id") + lit(i * uStride))
      }.withColumn("ts", col("ts").cast("timestamp_ntz")),
        "events")
    }

    // documents: word-salt ~20% of tokens per copy (deterministic md5
    // pick), recompute n_chars; copy 0 is the original corpus verbatim
    if (want("documents")) {
    val docs = rd("documents")
    val dStride = stride(docs, "doc_id")
    writeMulti(copies(docs) { (d, i) =>
      val salted =
        if (i == 0) d
        else d.withColumn("text", expr(
          s"""array_join(transform(split(text, ' '),
             |  t -> CASE WHEN pmod(xxhash64(t, $i), 5) = 0
             |            THEN concat(t, 'x$i') ELSE t END), ' ')""".stripMargin))
          .withColumn("n_chars", length(col("text")).cast("long"))
      salted.withColumn("doc_id", col("doc_id") + lit(i * dStride))
    }, "documents")
    }

    // embeddings: rotate dims by (copy index mod dim) AND sign-flip a
    // copy-keyed subset of coordinates (norms and coordinate magnitudes
    // preserved, directions decorrelated). The modulo keeps the slice
    // valid past dim copies; the sign flips keep copies i and i+dim from
    // collapsing onto the same direction at 100x.
    if (want("embeddings")) {
    val emb = rd("embeddings")
    val vStride = stride(emb, "vec_id")
    writeMulti(copies(emb) { (d, i) =>
      val rotated =
        if (i == 0) d
        else d.withColumn("embedding", expr(
          s"""transform(
             |  concat(slice(embedding, pmod($i, size(embedding)) + 1,
             |               size(embedding) - pmod($i, size(embedding))),
             |         slice(embedding, 1, pmod($i, size(embedding)))),
             |  (x, j) -> CASE WHEN pmod(xxhash64(j, $i), 2) = 0
             |            THEN x ELSE -x END)""".stripMargin))
      rotated.withColumn("vec_id", col("vec_id") + lit(i * vStride))
    }, "embeddings")
    }

    println(s"[scale] done: $out at ${factor}x $in")
    spark.stop()
  }
}
