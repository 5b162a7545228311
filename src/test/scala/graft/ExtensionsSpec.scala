package graft

import graft.functions.GraftExtensions

/** SQL registration of the native expressions via SparkSessionExtensions
  * (post-hoc `register` here: suites share one JVM-wide session, and
  * extensions only bind at construction). */
class ExtensionsSpec extends SparkSpec {

  GraftExtensions.register(spark)

  test("dot_product_d is callable from SQL") {
    val got = spark.sql(
      "SELECT dot_product_d(array(1.0D, 2.0D), array(3.0D, 4.0D)) AS d")
      .head().getDouble(0)
    assert(got === 11.0)
  }

  test("the full scalar surface is callable from SQL and agrees with " +
    "the Column API") {
    import org.apache.spark.sql.functions._
    val r = spark.sql(
      """SELECT
           graft_normalize_text('  Un   Deux ') AS nt,
           graft_author('avis du dr martin fin') AS au,
           CAST(graft_document_date(
             'ne le 01/01/1940 vu le 15/06/2001') AS STRING) AS dd,
           graft_zero_pad_id(7) AS zp,
           graft_lang_id('the cat and the dog of a house') AS lang,
           round(graft_cosine(array(1.0D, 0.0D), array(1.0D, 0.0D)), 4)
             AS cos,
           graft_md5hash48('abc') AS h48,
           html_to_text(
             '<p>a</p><a title="x>y">b</a> caf&#233;') AS ht
      """).head()
    assert(r.getString(0) === "un deux")
    assert(r.getString(1) === "Dr Martin Fin") // rule takes up to 2 words
    assert(r.getString(2) === "2001-06-15")
    assert(r.getString(3) === "00035868") // 7*5124 zero-padded
    assert(r.getString(4) === "en")
    assert(r.getDouble(5) === 1.0)
    // parity with the Column-API value of the same function
    val viaColumn = spark.range(1)
      .select(graft.engine.TextFunctions.md5Hash48(lit("abc")))
      .head().getLong(0)
    assert(r.getLong(6) === viaColumn)
    // parser-grade extractor: block newline, quoted-'>' attribute,
    // numeric entity — same result as the Column API
    assert(r.getString(7) === "a\nb café")
    val htViaColumn = spark.range(1)
      .select(graft.ops.TextAnalysis.htmlToText(
        lit("<p>a</p><a title=\"x>y\">b</a> caf&#233;")))
      .head().getString(0)
    assert(r.getString(7) === htViaColumn)
  }

  test("jaro_winkler: DuckDB-pinned reference values, boost gating, " +
    "empty-string convention, and SQL callability") {
    import graft.functions.JaroWinkler
    def jw(a: String, b: String): Double =
      JaroWinkler.compute(a.getBytes("UTF-8"), b.getBytes("UTF-8"))
    // values cross-checked against DuckDB jaro_winkler_similarity
    assert(jw("MARTHA", "MARHTA") === 0.9611111111111111)
    assert(jw("DUANE", "DWAYNE") === 0.8400000000000001)
    assert(jw("DIXON", "DICKSONX") === 0.8133333333333332)
    assert(jw("aaaaa", "aaaab") === 0.92)
    // below the 0.7 boost threshold the prefix bonus must NOT apply
    assert(jw("prefixmatch", "prefixxxxxx") === 0.6969696969696969)
    assert(jw("CRATE", "TRACE") === 0.7333333333333334)
    // DuckDB convention: any empty side scores 0, including both empty
    assert(jw("", "") === 0.0 && jw("abc", "") === 0.0)
    assert(jw("ab", "ba") === 0.0) // window 0: no matches
    assert(jw("abc", "abc") === 1.0)
    // SQL surface; whole-stage codegen path agrees with direct eval
    val got = spark.sql(
      "SELECT jaro_winkler('MARTHA', 'MARHTA') AS j").head().getDouble(0)
    assert(got === 0.9611111111111111)
  }

  test("dot_product_d rejects non-array inputs at analysis time") {
    val e = intercept[Exception] {
      spark.sql("SELECT dot_product_d(1, 2)").collect()
    }
    assert(e.getMessage.toLowerCase.contains("array"))
  }

  test("RangeJoinRewrite: a point-in-interval theta join plans as an " +
    "equi join under the rule (control: nested-loop without it), with " +
    "identical results") {
    import org.apache.spark.sql.functions._
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_rjr").toString
    val pRows = (0 until 300).map(i =>
      (i.toLong, ts(f"2024-01-${1 + i % 28}%02d ${i % 24}%02d:15:00")))
    val iRows = Seq(
      (1L, ts("2024-01-03 06:00:00"), ts("2024-01-06 00:00:00")),
      (2L, ts("2024-01-05 00:00:00"), ts("2024-01-05 23:00:00")),
      (3L, ts("2024-02-01 00:00:00"), ts("2024-02-03 00:00:00")))
    pRows.toDF("pid", "p").write.mode("overwrite").parquet(s"$dir/p")
    iRows.toDF("iid", "s", "e").write.mode("overwrite").parquet(s"$dir/i")
    val points = spark.read.parquet(s"$dir/p")
    val intervals = spark.read.parquet(s"$dir/i")
    def thetaJoin = points.join(intervals, $"p" >= $"s" && $"p" < $"e")
      .select("pid", "iid")

    // control: without the rule this is a nested-loop join
    val control = thetaJoin
    control.count()
    assert(control.queryExecution.executedPlan.toString
      .contains("BroadcastNestedLoopJoin"))

    val expected = for {
      (pid, p) <- pRows
      (iid, s, e) <- iRows
      if !p.before(s) && p.before(e)
    } yield (pid, iid)
    assert(expected.nonEmpty)

    val before = spark.experimental.extraOptimizations
    spark.experimental.extraOptimizations =
      before :+ graft.plans.RangeJoinRewrite
    try {
      val rewritten = thetaJoin
      val got = rewritten.as[(Long, Long)].collect().toSet
      assert(got === expected.toSet)
      val plan = rewritten.queryExecution.executedPlan.toString
      assert(!plan.contains("BroadcastNestedLoopJoin") &&
        !plan.contains("CartesianProduct"),
        s"rule should have produced an equi join, got:\n$plan")
    } finally spark.experimental.extraOptimizations = before
  }

  test("RangeJoinRewrite leaves joins with an equi key alone") {
    import spark.implicits._
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val a = Seq((1L, ts("2024-01-01 10:00:00"))).toDF("k", "p")
    val b = Seq((1L, ts("2024-01-01 00:00:00"), ts("2024-01-02 00:00:00")))
      .toDF("k2", "s", "e")
    val joined = a.join(b,
      $"k" === $"k2" && $"p" >= $"s" && $"p" < $"e")
    val optimized = graft.plans.RangeJoinRewrite(
      joined.queryExecution.analyzed)
    assert(optimized.toString ===
      joined.queryExecution.analyzed.toString) // untouched
  }

  test("sorted_sum_d is bit-identical to the aggregate(array_sort) " +
    "fold, null-poisons, and sums empty to 0.0") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    graft.functions.GraftExtensions.register(spark)
    // adversarial magnitudes: catastrophic-cancellation-prone values
    // where ADDITION ORDER changes the result — equality below proves
    // the native kernel folds in exactly the sorted order
    val rows = Seq(
      (1L, Seq(1e16, 1.0, -1e16, 3.14, 2.71, -0.5)),
      (2L, Seq(0.1, 0.2, 0.3)),
      (3L, Seq.empty[Double]),
      (4L, (1 to 999).map(i => math.sin(i.toDouble) * math.pow(10.0, i % 20))))
    val df = rows.toDF("id", "xs")
    val both = df.select(col("id"),
        aggregate(array_sort(col("xs")), lit(0.0), (a, x) => a + x)
          .as("fold"),
        graft.functions.SortedSumD.sortedSum(col("xs")).as("native"),
        expr("sorted_sum_d(xs)").as("sql"))
      .collect()
    both.foreach { r =>
      assert(java.lang.Double.doubleToLongBits(r.getDouble(1)) ===
        java.lang.Double.doubleToLongBits(r.getDouble(2)), s"row $r")
      assert(java.lang.Double.doubleToLongBits(r.getDouble(1)) ===
        java.lang.Double.doubleToLongBits(r.getDouble(3)), s"row $r")
    }
    assert(both.find(_.getLong(0) == 3L).get.getDouble(2) === 0.0)
    // a null ELEMENT poisons to null, matching the fold's acc + null
    val withNull = spark.sql(
      "SELECT sorted_sum_d(array(1.0, cast(null as double), 2.0)) n")
    assert(withNull.collect()(0).isNullAt(0))
  }

  test("repeat_sum_d is bit-identical to sorted_sum_d(array_repeat) " +
    "on every n and replicates its null/empty edge semantics") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // values where repeated IEEE addition drifts from n*v, across n
    // spanning 0, 1, small, and large counts — equality proves the
    // O(1)-space loop runs the exact addition sequence of the
    // materialized fold
    val rows = for {
      v <- Seq(0.1, -1.0 / 3.0, 1e-17, -2.7182818284590452, 1e16)
      n <- Seq(0L, 1L, 2L, 7L, 1000L, 100000L)
    } yield (v, n)
    val df = rows.toDF("v", "n")
    val both = df.select(col("v"), col("n"),
        graft.functions.SortedSumD.sortedSum(
          array_repeat(col("v"), col("n").cast("int"))).as("fold"),
        graft.functions.RepeatSumD.repeatSum(col("v"), col("n"))
          .as("native"))
      .collect()
    both.foreach { r =>
      assert(java.lang.Double.doubleToLongBits(r.getDouble(2)) ===
        java.lang.Double.doubleToLongBits(r.getDouble(3)),
        s"v=${r.getDouble(0)} n=${r.getLong(1)}")
    }
    // edges: n null -> null; n = 0 with null v -> 0.0 (empty array
    // sums to 0.0); null v with n >= 1 -> null (element poisons)
    val edges = Seq((Some(1.5), None), (None, Some(0L)), (None, Some(3L)))
      .toDF("v", "n")
      .select(graft.functions.RepeatSumD.repeatSum(col("v"), col("n"))
        .as("r"))
      .collect()
    assert(edges(0).isNullAt(0))
    assert(edges(1).getDouble(0) === 0.0)
    assert(edges(2).isNullAt(0))
  }
}
