package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Synthetic scale-up generator: replicates an SF directory K× with
  * FK-consistent key-space offsets, for scaling-curve measurements
  * above the largest driver-provided SF (SCALE.md):
  *
  *   sbt "runMain graft.ScaleUp /root/testdata/sf0.1 /tmp/graft_sf1 10"
  *
  * Shape decisions (what "10× the data" should mean for this engine):
  *  - ONE offset per logical key DOMAIN (orderkey, custkey, partkey,
  *    suppkey, user/event ids, doc_id, vec_id), applied to every column
  *    referencing it — joins keep their original per-key fan-out, so
  *    join/agg cardinalities scale linearly, not quadratically;
  *  - documents get a per-replica suffix token (and consistent n_chars)
  *    so near-dup pipelines see a 10× corpus rather than 10 EXACT
  *    copies of every doc — exact copies would inflate every LSH
  *    bucket 10× and the candidate pair space 100×, which measures
  *    "pathological duplication", not "more data";
  *  - embeddings get a per-replica circular rotation, varying
  *    ANN/LSH bucket geometry across replicas for the same reason;
  *  - event timestamps are preserved: the calendar window is FIXED and
  *    per-day volume grows 10× — matching the engine's design
  *    assumption that day/week grains stay metadata-sized at 100 TB
  *    while row grains grow;
  *  - dimension tables (nation, region) copy through unchanged.
  */
object ScaleUp {
  def main(args: Array[String]): Unit = {
    require(args.length >= 3 && args.length <= 5,
      "usage: ScaleUp <srcDir> <dstDir> <k> [tables-csv] [distinctNames]")
    val (src, dst, k) = (args(0), args(1), args(2).toInt)
    require(k >= 1, s"k must be >= 1, got $k")
    // optional table filter: the 100× pairs probe replicates only the
    // pair-family inputs (embeddings/customer/part) — a 100× lineitem
    // would be 600M rows of unrelated I/O
    val only: Option[Set[String]] =
      if (args.length >= 4 && args(3).nonEmpty && args(3) != "all")
        Some(args(3).split(",").map(_.trim).toSet)
      else None
    // distinctNames: per-replica name suffixes on customer/part — the
    // same "more data, not pathological duplication" shape the
    // documents table always gets (see scaladoc above). Suffix blocks
    // are letter-triples, so any two replicas' names differ by >= 3
    // edits and a maxDist<=2 fuzzy join never pairs them — DISTINCT
    // content growth, the regime the salt bound exists for.
    // explicit true/false parse: a typo'd 5th arg gets a usage message
    // naming the argument, not a bare IllegalArgumentException from
    // String.toBoolean (advisor r08)
    val distinctNames = args.length == 5 && (args(4).toLowerCase match {
      case "true"  => true
      case "false" => false
      case other => sys.error(
        s"ScaleUp: 5th arg distinctNames must be true|false, got '$other'")
    })
    // k caps differ BY DESIGN: name tags are letter-pair triples (10×10
    // alphabet grid → 100 distinct suffixes) while the embeddings
    // replica family rotates sign patterns (128 rotations); a combined
    // distinctNames run is bounded by the smaller cap
    require(!distinctNames || k <= 100,
      s"distinctNames name tags support k <= 100 (10x10 letter-pair " +
        s"grid; the embeddings rotation cap of 128 does not apply to " +
        s"name tags), got k=$k")
    def nameTag(r: Int): String = {
      val a = ('a' + r / 10).toChar
      val b = ('a' + r % 10).toChar
      s" ${a.toString * 3}${b.toString * 3}"
    }
    val spark = Session.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "8").toInt)

    def t(n: String) = spark.read.parquet(s"$src/$n.parquet")

    // one offset per logical key domain, read from the OWNING table so
    // fact tables referencing the domain shift identically
    def domainOffset(table: String, keyCol: String): Long =
      t(table).agg(max(col(keyCol).cast("long"))).head().getLong(0) + 1L
    val off = Map(
      "orderkey" -> domainOffset("orders", "o_orderkey"),
      "custkey"  -> domainOffset("customer", "c_custkey"),
      "partkey"  -> domainOffset("part", "p_partkey"),
      "suppkey"  -> domainOffset("supplier", "s_suppkey"),
      "eventid"  -> domainOffset("events", "event_id"),
      "userid"   -> domainOffset("events", "user_id"),
      "docid"    -> domainOffset("documents", "doc_id"),
      "vecid"    -> domainOffset("embeddings", "vec_id"))

    /** K replicas of `df`, each key column shifted by r·domainOffset
      * (type-preserving), with an optional per-replica transform.
      * FAILS FAST if the largest shifted key (k·offset − 1) would not
      * fit the source column's type — a silent narrowing cast would
      * wrap 32-bit keys at larger k/SF and corrupt FK consistency of
      * the generated corpus (advisor r07). */
    def replicate(df: DataFrame, keys: Map[String, String],
                  extra: (DataFrame, Int) => DataFrame = (d, _) => d)
        : DataFrame = {
      import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType}
      for ((c, dom) <- keys) {
        val typeMax: BigInt = df.schema(c).dataType match {
          case ByteType    => BigInt(Byte.MaxValue)
          case ShortType   => BigInt(Short.MaxValue)
          case IntegerType => BigInt(Int.MaxValue)
          case LongType    => BigInt(Long.MaxValue)
          case other => sys.error(
            s"scale-up key column $c has non-integral type ${other.simpleString}")
        }
        val maxShifted = BigInt(k) * BigInt(off(dom)) - 1
        require(maxShifted <= typeMax,
          s"scale-up k=$k would overflow key column $c " +
            s"(${df.schema(c).dataType.simpleString}): max shifted key " +
            s"$maxShifted > $typeMax — widen the source column or lower k")
      }
      (0 until k).map { r =>
        val shifted = keys.foldLeft(df) { case (d, (c, dom)) =>
          d.withColumn(c, (col(c).cast("long") + lit(r * off(dom)))
            .cast(df.schema(c).dataType))
        }
        extra(shifted, r)
      }.reduce(_ unionByName _)
    }

    def write(df: => DataFrame, n: String): Unit =
      if (only.forall(_.contains(n))) {
        df.write.mode("overwrite").parquet(s"$dst/$n.parquet")
        val rows = spark.read.parquet(s"$dst/$n.parquet").count()
        println(s"[scaleup] $n rows=$rows")
      }

    write(t("nation"), "nation")
    write(t("region"), "region")
    write(replicate(t("customer"), Map("c_custkey" -> "custkey"),
      (d, r) =>
        if (!distinctNames || r == 0) d
        else d.withColumn("c_name", concat(col("c_name"),
          lit(nameTag(r))))), "customer")
    write(replicate(t("supplier"), Map("s_suppkey" -> "suppkey")),
      "supplier")
    write(replicate(t("part"), Map("p_partkey" -> "partkey"),
      (d, r) =>
        if (!distinctNames || r == 0) d
        else d.withColumn("p_name", concat(col("p_name"),
          lit(nameTag(r))))), "part")
    write(replicate(t("orders"),
      Map("o_orderkey" -> "orderkey", "o_custkey" -> "custkey")),
      "orders")
    write(replicate(t("lineitem"),
      Map("l_orderkey" -> "orderkey", "l_partkey" -> "partkey",
        "l_suppkey" -> "suppkey")), "lineitem")
    write(replicate(t("events"),
      Map("event_id" -> "eventid", "user_id" -> "userid")), "events")
    write(replicate(t("documents"), Map("doc_id" -> "docid"),
      (d, r) =>
        if (r == 0) d
        else {
          val suffix = s" corpusreplica r$r"
          d.withColumn("text", concat(col("text"), lit(suffix)))
            .withColumn("n_chars", col("n_chars") + lit(suffix.length.toLong))
        }), "documents")
    // rotation index wraps at the 64-dim cycle; past one full cycle
    // (r >= 64) replicas also sign-flip the odd dimensions, so every
    // replica's bucket geometry stays distinct up to k = 128 — a pure
    // r-rotation would silently emit EXACT copies at r = 64 and
    // re-create the pathological-duplication corpus the doc above
    // rules out
    write(replicate(t("embeddings"), Map("vec_id" -> "vecid"),
      (d, r) =>
        if (r == 0) d
        else {
          require(k <= 128, "embedding replica family supports k <= 128")
          val rot = r % 64
          val rotated =
            if (rot == 0) "embedding"
            else s"concat(slice(embedding, ${rot + 1}, " +
              s"size(embedding) - $rot), slice(embedding, 1, $rot))"
          val flipped =
            if (r / 64 == 0) rotated
            else s"transform($rotated, (x, i) -> if(i % 2 = 1, -x, x))"
          d.withColumn("embedding", expr(flipped))
        }), "embeddings")
    spark.stop()
  }
}
