package graft

import graft.functions.{AdcLookup, MatOps}
import org.apache.spark.sql.execution.ProjectExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions._

/** Parity pins for the round-13 native linear-algebra kernels: each must
  * be bit-identical to the composable HOF form it replaced (the forms the
  * DuckDB oracles were written against).
  */
class MatOpsSpec extends SparkSpec {
  import spark.implicits._

  private val dim = 8

  private lazy val vecs = (1L to 40L).map { i =>
    (i, Array.tabulate(dim)(d => ((i * 31 + d * 7) % 13 - 6) / 3.0))
  }.toDF("id", "v")

  private val rotation: IndexedSeq[IndexedSeq[Double]] =
    IndexedSeq.tabulate(dim, dim)((i, j) => ((i * 5 + j * 3) % 7 - 3) / 2.0)

  private def hofMatVec(vec: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    val rLit = typedlit(rotation.map(_.toSeq).toSeq)
    val x = vec.cast("array<double>")
    transform(sequence(lit(0), lit(dim - 1)), j =>
      aggregate(
        zip_with(x, rLit, (xi, row) => xi * element_at(row, j + 1)),
        lit(0.0), (acc, v) => acc + v))
  }

  private def nativeMatVec(vec: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    MatOps.matVec(vec.cast("array<double>"),
      Array.tabulate(dim, dim)((j, i) => rotation(i)(j)))

  test("matVec is bit-identical to the transform/aggregate/zip_with fold") {
    val both = vecs.select(nativeMatVec(col("v")).as("native"), hofMatVec(col("v")).as("hof"))
    // bit-exact: compare as structs, no tolerance
    assert(both.filter(not(col("native") <=> col("hof"))).count() == 0)
    assert(both.filter(col("native").isNull).count() == 0)
  }

  test("matVec null semantics: null vec, short vec, null element match the fold") {
    val edge = spark.sql(
      s"""SELECT * FROM VALUES
         |  (CAST(NULL AS array<double>)),
         |  (array(1.0D, 2.0D)),
         |  (array(1.0D, NULL, 3.0D, 4.0D, 5.0D, 6.0D, 7.0D, 8.0D)),
         |  (array(1.0D, 2.0D, 3.0D, 4.0D, 5.0D, 6.0D, 7.0D, 8.0D, 9.0D)),
         |  (array(CAST('NaN' AS DOUBLE), 2.0D, 3.0D, 4.0D, 5.0D, 6.0D, 7.0D, 8.0D))
         |AS t(v)""".stripMargin)
    val both = edge.select(nativeMatVec(col("v")).as("native"), hofMatVec(col("v")).as("hof"))
    assert(both.filter(not(col("native") <=> col("hof"))).count() == 0)
  }

  test("outerFlat is bit-identical to flatten(transform(transform))") {
    val x = col("v").cast("array<double>")
    val hof = flatten(transform(x, xi => transform(x, xj => xi * xj)))
    val both = vecs.select(MatOps.outerFlat(x).as("native"), hof.as("hof"))
    assert(both.filter(not(col("native") <=> col("hof"))).count() == 0)
  }

  test("outerFlat null semantics: positional nulls where either factor is null") {
    val edge = spark.sql(
      "SELECT array(1.0D, NULL, 3.0D) AS v UNION ALL SELECT CAST(NULL AS array<double>)")
    val x = col("v").cast("array<double>")
    val hof = flatten(transform(x, xi => transform(x, xj => xi * xj)))
    val both = edge.select(MatOps.outerFlat(x).as("native"), hof.as("hof"))
    assert(both.filter(not(col("native") <=> col("hof"))).count() == 0)
  }

  test("pqCodes matches the composable slice/aggregate argmin fold") {
    import graft.ann.{KMeans, ProductQuantizer}
    val numBlocks = 4
    val blockDim = dim / numBlocks
    val k = 3
    val cents: IndexedSeq[IndexedSeq[IndexedSeq[Double]]] =
      IndexedSeq.tabulate(numBlocks, k, blockDim)((b, c, j) => ((b * 11 + c * 5 + j * 3) % 9 - 4) / 2.0)
    val model = ProductQuantizer.Model(numBlocks, blockDim, k, cents)
    // the pre-round-13 composable form, inlined
    val centsLit = typedlit(cents.map(_.map(_.toSeq).toSeq).toSeq)
    def subVectors(vecCol: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
      array((0 until numBlocks).map { b =>
        struct(lit(b).as("blk"), slice(vecCol.cast("array<double>"), b * blockDim + 1, blockDim).as("sub"))
      }: _*)
    val hof = transform(
      subVectors(col("v")),
      s => {
        val tables = element_at(centsLit, s.getField("blk") + 1)
        val folded = aggregate(
          sequence(lit(0), lit(k - 1)),
          struct(lit(Double.MaxValue).as("d"), lit(-1).as("c")),
          (acc, i) => {
            val d = KMeans.sqDist(s.getField("sub"), element_at(tables, i + 1))
            when(d < acc.getField("d"), struct(d.as("d"), i.cast("int").as("c"))).otherwise(acc)
          }
        )
        folded.getField("c")
      }
    )
    val edge = spark.sql(
      s"""SELECT * FROM VALUES
         |  (array(1.0D, 2.0D)),
         |  (CAST(NULL AS array<double>)),
         |  (array(1.0D, NULL, 3.0D, 4.0D, 5.0D, 6.0D, 7.0D, 8.0D)),
         |  (array(CAST('NaN' AS DOUBLE), 2.0D, 3.0D, 4.0D, 5.0D, 6.0D, 7.0D, 8.0D))
         |AS t(v)""".stripMargin)
    for (df <- Seq(vecs.select(col("v")), edge)) {
      val both = df.select(
        ProductQuantizer.codesColumn(model, col("v")).as("native"), hof.as("hof"))
      assert(both.filter(not(col("native") <=> col("hof"))).count() == 0)
    }
  }

  private def hofAdc(codes: org.apache.spark.sql.Column, dt: org.apache.spark.sql.Column) =
    aggregate(
      zip_with(codes, dt, (code, table) => element_at(table, code + 1)),
      lit(0.0), (acc, x) => acc + x)

  // codes in [0, k), tables numBlocks × k — the searchADC shape
  private lazy val adcRows = {
    val numBlocks = 4
    val k = 3
    (1L to 40L).map { i =>
      (Array.tabulate(numBlocks)(b => ((i + b) % k).toInt),
        Array.tabulate(numBlocks, k)((b, c) => ((i * 7 + b * 5 + c * 3) % 11 - 5) / 4.0))
    }.toDF("codes", "dt")
  }

  // NULL codes / NULL table / length mismatch / NULL table cell /
  // out-of-range positive code all NULL the sum, exactly like the fold
  private lazy val adcEdges = spark.sql(
    """SELECT * FROM VALUES
      |  (CAST(NULL AS array<int>), array(array(1.0D), array(2.0D))),
      |  (array(0, 0), CAST(NULL AS array<array<double>>)),
      |  (array(0), array(array(1.0D), array(2.0D))),
      |  (array(0, 0, 0), array(array(1.0D), array(2.0D))),
      |  (array(0, CAST(NULL AS int)), array(array(1.0D), array(2.0D))),
      |  (array(0, 0), array(array(1.0D), CAST(NULL AS array<double>))),
      |  (array(0, 0), array(array(1.0D), array(CAST(NULL AS double))))
      |AS t(codes, dt)""".stripMargin)

  test("adcLookup is bit-identical to the zip_with/aggregate fold") {
    val both = adcRows.select(
      graft.functions.MatOps.adcLookup(col("codes"), col("dt")).as("native"),
      hofAdc(col("codes"), col("dt")).as("hof"))
    assert(both.filter(not(col("native") <=> col("hof"))).count() == 0)
    assert(both.filter(col("native").isNull).count() == 0)
  }

  test("adcLookup null semantics match the fold; -1 sentinel is NULL not error") {
    val both = adcEdges.select(
      graft.functions.MatOps.adcLookup(col("codes"), col("dt")).as("native"),
      hofAdc(col("codes"), col("dt")).as("hof"))
    assert(both.filter(not(col("native") <=> col("hof"))).count() == 0)
    assert(both.filter(col("native").isNotNull).count() == 0)
    // the ONE documented divergence class: an out-of-range code — the −1
    // pqCodes no-winner sentinel or a past-the-end index — makes
    // element_at THROW in the fold under ANSI (the Spark 4 default); the
    // native kernel returns NULL so the row drops from ranking instead
    // of killing the query. Codes from pqCodes against the model's own
    // tables are always in range, so no production plan reaches this edge.
    for (codes <- Seq("array(-1, 0)", "array(0, 5)")) {
      val sentinel = spark.sql(
        s"SELECT $codes AS codes, array(array(1.0D), array(2.0D)) AS dt")
      assert(sentinel.select(
        graft.functions.MatOps.adcLookup(col("codes"), col("dt")).as("native"))
        .filter(col("native").isNull).count() == 1)
      assertThrows[Exception] {
        sentinel.select(hofAdc(col("codes"), col("dt")).as("hof")).collect()
      }
    }
  }

  test("adcLookup's generated code is bit-identical to the fold (CODEGEN_ONLY)") {
    // A projection straight over a local relation is folded at plan time
    // by interpreted eval; behind the exchange it runs as a physical
    // projection, and CODEGEN_ONLY with no fallback compiles it from
    // doGenCode and fails the query if that code does not compile,
    // instead of silently running the interpreted path.
    val keys = Seq("spark.sql.codegen.factoryMode", "spark.sql.codegen.fallback")
    val saved = keys.map(k => k -> spark.conf.getOption(k))
    spark.conf.set("spark.sql.codegen.factoryMode", "CODEGEN_ONLY")
    spark.conf.set("spark.sql.codegen.fallback", "false")
    try {
      def both(df: org.apache.spark.sql.DataFrame) = df.repartition(2).select(
        graft.functions.MatOps.adcLookup(col("codes"), col("dt")).as("native"),
        hofAdc(col("codes"), col("dt")).as("hof"))
      // double tables, and float tables whose cells widen to double
      val floatRows = adcRows.select(col("codes"), col("dt").cast("array<array<float>>").as("dt"))
      for (rows <- Seq(both(adcRows), both(floatRows))) {
        rows.collect()
        val projections = new AdaptiveSparkPlanHelper {}.collect(rows.queryExecution.executedPlan) {
          case p: ProjectExec if p.projectList.exists(_.exists(_.isInstanceOf[AdcLookup])) => p
        }
        assert(projections.nonEmpty, "the kernel must run in a physical projection")
        assert(rows.filter(not(col("native") <=> col("hof"))).count() == 0)
        assert(rows.filter(col("native").isNull).count() == 0)
      }
      val edges = both(adcEdges)
      assert(edges.filter(not(col("native") <=> col("hof"))).count() == 0)
      assert(edges.filter(col("native").isNotNull).count() == 0)
      val sentinel = spark.sql("SELECT array(-1, 0) AS codes, array(array(1.0D), array(2.0D)) AS dt")
        .repartition(2)
        .select(graft.functions.MatOps.adcLookup(col("codes"), col("dt")).as("native"))
      assert(sentinel.filter(col("native").isNull).count() == 1)
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }
}
