package graft

import graft.engine.Partitioning

/** Physical-layout behavior: bucketed joins plan no exchange; salted
  * joins return exactly the plain join's rows on skewed data. */
class PartitioningSpec extends SparkSpec {

  import spark.implicits._

  /** The shared-session catalog is in-memory but table LOCATIONS persist
    * on disk across JVMs — clear both before writing. */
  private def resetTable(name: String): Unit = {
    spark.sql(s"DROP TABLE IF EXISTS $name")
    val loc = java.nio.file.Paths.get(
      spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:"), name)
    if (java.nio.file.Files.exists(loc)) {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(loc).iterator().asScala.toSeq.reverse
        .foreach(java.nio.file.Files.deleteIfExists(_))
    }
  }

  // auto-broadcast off in the two join-shape tests: both joins must plan
  // as sort-merge joins
  test("bucketed co-located join plans ZERO exchanges") {
    withConf("spark.sql.autoBroadcastJoinThreshold", "-1") {
      val a = (1 to 1000).map(i => (i.toLong, s"a$i")).toDF("k", "va")
      val b = (1 to 1000).map(i => (i.toLong, s"b$i")).toDF("k", "vb")
      resetTable("t_bucketed_a"); resetTable("t_bucketed_b")
      Partitioning.writeBucketed(a, "t_bucketed_a", "k", 4)
      Partitioning.writeBucketed(b, "t_bucketed_b", "k", 4)
      val joined = Partitioning.bucketedJoin(spark, "t_bucketed_a",
        "t_bucketed_b", "k")
      assert(joined.count() === 1000)
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"),
        s"bucketed join should be exchange-free, got:\n$plan")
    }
  }

  test("unbucketed control: the same join DOES shuffle") {
    withConf("spark.sql.autoBroadcastJoinThreshold", "-1") {
      val a = (1 to 1000).map(i => (i.toLong, s"a$i")).toDF("k", "va")
      val b = (1 to 1000).map(i => (i.toLong, s"b$i")).toDF("k", "vb")
      val joined = a.join(b, "k")
      joined.count()
      assert(joined.queryExecution.executedPlan.toString.contains("Exchange"))
    }
  }

  test("salted join equals the plain join on skewed data") {
    // 90% of the big side hits one hot key
    val big = (1 to 5000).map(i =>
      (if (i % 10 == 0) i.toLong % 50 else 7L, s"row$i")).toDF("k", "v")
    val small = (0L until 50L).map(k => (k, s"dim$k")).toDF("k", "d")
    val plain = big.join(small, "k")
    val salted = Partitioning.saltedJoin(big, small, "k", saltFactor = 8)
    assert(salted.count() === plain.count())
    assert(salted.orderBy("k", "v").collect().toSeq
      === plain.orderBy("k", "v").collect().toSeq)
    // salt column does not leak into the output schema
    assert(!salted.columns.contains("__salt"))
  }

  test("saltedSumCount equals the plain groupBy on skewed data and is " +
    "partition-layout independent") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // one hot key with 90% of the rows
    val rows = (0 until 900).map(i => ("hot", i)) ++
      (0 until 100).map(i => (s"k${i % 7}", i))
    val df = rows.toDF("k", "x")
      .select(col("k"), col("x").cast("decimal(18,2)").as("x"))
    val got = Partitioning.saltedSumCount(df, Seq("k"), col("x"), 8)
      .select(col("k"), col("sum_val").cast("decimal(38,2)"), col("cnt"))
    val want = df.groupBy("k")
      .agg(sum("x").cast("decimal(38,2)").as("sum_val"),
        count(lit(1)).as("cnt"))
    assert(got.except(want).isEmpty && want.except(got).isEmpty)
    val re = Partitioning.saltedSumCount(df.repartition(13), Seq("k"),
        col("x"), 8)
      .select(col("k"), col("sum_val").cast("decimal(38,2)"), col("cnt"))
    assert(re.except(want).isEmpty && want.except(re).isEmpty)
  }
}
