package graft.engine

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Order-aware dedup — the reference's `drop_duplicates(subset=...)`
  * keep-first semantics (`exo_1.py:32-34`) and the pre-dedup surrogate
  * numbering (`exo_1.py:53,123-131`), which together produce the verified
  * PATIENT_NUM-gap behavior (SURVEY.md §2 P5/J1).
  *
  * Spark has no input row order, so "first" is defined by an explicit
  * order column supplied by the staging layer (a file row index or
  * `monotonically_increasing_id()` captured at scan — SURVEY.md §7.4).
  *
  * Scale notes: `keepFirst` is one hash-partitioned window (shuffle on the
  * dedup keys only — no global sort); at 100 TB this is the same shuffle an
  * aggregation on those keys would need, and skewed key groups are handled
  * by AQE. `numberRows` with a global order is inherently a two-phase
  * operation; the per-partition-offset implementation below never sorts
  * globally and never collects rows to the driver.
  */
object Dedup {

  /** J1 — keep the first row per key group under `order`. */
  def keepFirst(df: DataFrame, keys: Seq[String], order: Column): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*).orderBy(order)
    df.withColumn("__graft_rn", row_number().over(w))
      .filter(col("__graft_rn") === 1)
      .drop("__graft_rn")
  }

  /** P5/A2 — dense 1-based row numbering by `order`. By default there is
    * no global single-partition sort: sort within partitions, then add
    * per-partition offsets computed from partition sizes (zipWithIndex-
    * style, but staying in the DataFrame API). `order` must be globally
    * monotone across partitions for the numbering to equal a global
    * `row_number()` — callers get that by range-partitioning on `order`
    * first.
    *
    * `partitions = 1` is the form for a batch the caller knows to be
    * small: `coalesce(1)`, a sort within that one partition and
    * `monotonically_increasing_id() + 1`. It has no exchange and no
    * checkpoint, building it runs no job, and the numbering runs inside
    * the consumer's own job, as one task. The returned frame is lazy, so
    * every read recomputes `df` and the numbering: give it a
    * deterministic input, such as a checkpoint, and an `order` that is
    * unique, or two reads may number tied rows differently. */
  def numberRows(df: DataFrame, order: Column, as: String, partitions: Int = 0): DataFrame =
    if (partitions == 1)
      df.coalesce(1).sortWithinPartitions(order)
        .withColumn(as, monotonically_increasing_id() + 1)
    else numberRanged(df, order, as, partitions)

  /** [[numberRows]] over `partitions` range partitions (0: as many as
    * the range exchange plans), numbered in one counted checkpoint. */
  private def numberRanged(df: DataFrame, order: Column, as: String,
                           partitions: Int): DataFrame = {
    val ranged = if (partitions > 0) df.repartitionByRange(partitions, order)
                 else df.repartitionByRange(order)
    // Phase 1 — local rank WITHOUT a window: after the explicit local
    // sort, monotonically_increasing_id() encodes exactly
    // (partition id << 33) | 0-based-arrival-index, and within a sorted
    // partition the arrival index IS the local rank. The former
    // row_number() over Window.partitionBy(spark_partition_id())
    // reshuffled the ENTIRE input a second time (Catalyst cannot know
    // pid-clustering is inherent, so it inserted
    // Exchange hashpartitioning(__graft_pid) over the range exchange —
    // measured as a full extra corpus shuffle in every numberRows
    // caller, r13). mid is nondeterministic, so Catalyst never reorders
    // it across the Sort; it is used ONLY as (pid, position-in-sorted-
    // partition), which is as deterministic as the two-phase scheme
    // itself.
    //
    // The frame is MATERIALIZED exactly once (captured localCheckpoint)
    // before phase 2 reads it. This is load-bearing for correctness,
    // not a cache hint: the r13 form derived the offsets from a second
    // read of the range exchange and relied on ReuseExchange to make
    // both reads see the same partition boundaries — but whenever the
    // consumer keeps columns beyond `order`, column pruning narrows the
    // offsets branch to the order columns, the two exchanges no longer
    // canonicalize equal, reuse does NOT fire, and each branch samples
    // its own range boundaries and gets its own AQE coalescing. The
    // partition-id domains then disagree and the offsets join silently
    // DROPS rows and duplicates ranks (reproduced, advisor r13: a 200k-
    // row frame with an incompressible payload returned 49,980 rows on
    // this repo's Spark 4.1.2 under default AQE — the narrow branch
    // coalesced to 1 post-shuffle partition, the wide branch to 4).
    // DedupMergeSpec pins that exact scenario. Checkpoint lifecycle is
    // [[graft.ops.Caches.small]]'s: blocks are reference-counted by the
    // ContextCleaner and freed when the returned frame is GC'd; the
    // executor-loss caveat Caches.scala documents applies, and the
    // warehouse-scale form writes the ranked frame to a table instead.
    // Phase 2 rides phase 1's job (r15): corpusScaleCounted fuses the
    // checkpoint materialization with a per-partition row count — the
    // former shape paid a SECOND blocking action (a cache-scan
    // groupBy(pid).count().collect()) per numberRows call, and the
    // suffix-doubling family calls numberRows once per level. The
    // counts arrive indexed by partition id (runJob result order), so
    // the exclusive-prefix offsets build directly from the array —
    // still partition-count-grain driver data, applied as an O(1)
    // array-literal lookup. No join, no broadcast, and no second
    // evaluation of anything upstream of the checkpoint.
    val (shared, perPart) = graft.ops.Caches.corpusScaleCounted(
      ranged.sortWithinPartitions(order)
        .withColumn("__graft_mid", monotonically_increasing_id())
        .withColumn("__graft_pid",
          shiftright(col("__graft_mid"), 33).cast("int"))
        .withColumn("__graft_local",
          (col("__graft_mid") % lit(1L << 33)) + lit(1L))
        .drop("__graft_mid"))
    val offs = new Array[Long](perPart.length)
    var acc = 0L
    var p = 0
    while (p < perPart.length) { offs(p) = acc; acc += perPart(p)._1; p += 1 }
    shared
      .withColumn(as, col("__graft_local") +
        element_at(typedlit(offs.toSeq), col("__graft_pid") + 1))
      .drop("__graft_pid", "__graft_local")
  }

  /** Two-phase global rank + running sums: like [[numberRows]], but also
    * emits, for each `(name, expr)` in `sums`, the INCLUSIVE running sum
    * of `expr` under the global `order` — all without a single-partition
    * sort. Phase 1 range-partitions on `order` and computes the local
    * rank/cumsums per partition; phase 2 broadcasts a partition-count-
    * grain offsets table (exclusive prefix of per-partition counts and
    * totals) back onto the rows. This is the scale-safe form of
    * `row_number()/sum().over(Window.orderBy(...))` for frames that grow
    * with a dimension or with distinct values (ABC cumulative shares,
    * Mann–Whitney cumulative counts, exact quantile-by-rank).
    *
    * Unlike [[numberRows]] (r13 rewrite), this form KEEPS the
    * pid-partitioned window and therefore pays the hash re-exchange on
    * `__graft_pid` that Catalyst inserts: the running sums need a
    * sequential per-partition scan, and expressing that without a
    * window would mean type-dispatching accumulator code in
    * mapPartitions (long/double/decimal sums each with their own
    * ordering semantics). Its callers run on VALUE-grain frames
    * (distinct values of one column), not the raw corpus, so the extra
    * exchange moves grain-sized data — an accepted trade, documented
    * rather than hidden. */
  def numberAndRunningSum(df: DataFrame, order: Column, rankCol: String,
                          sums: Seq[(String, Column)]): DataFrame = {
    // Materialized once for the same reason [[numberRows]] is (advisor
    // r13): the window branch and the per-pid offsets branch both read
    // this frame, and if the output carries columns beyond the order
    // and sum inputs, divergent column pruning breaks exchange reuse
    // and each branch would otherwise sample its own range boundaries —
    // mismatched pid domains, dropped rows. Freezing spark_partition_id
    // into checkpointed data makes both reads see one pid assignment
    // regardless of planner behavior. Callers run on VALUE-grain frames
    // (distinct values of one column), so the checkpoint is grain-sized.
    val ranged = graft.ops.Caches.corpusScale(df.repartitionByRange(order)
      .withColumn("__graft_pid", spark_partition_id()))
    val pw = Window.partitionBy(col("__graft_pid")).orderBy(order)
    var withLocal = ranged.withColumn("__graft_local", row_number().over(pw))
    for (((_, ex), i) <- sums.zipWithIndex)
      withLocal = withLocal.withColumn(s"__graft_ls$i",
        sum(ex).over(pw.rowsBetween(Window.unboundedPreceding, 0)))
    val offAggs = count(lit(1)).as("__graft_cnt") +:
      sums.zipWithIndex.map { case ((_, ex), i) => sum(ex).as(s"__graft_t$i") }
    val perPid = withLocal.groupBy(col("__graft_pid"))
      .agg(offAggs.head, offAggs.tail: _*)
    // exclusive prefix over partition ids — partition-count-grain frame
    val ow = Window.orderBy(col("__graft_pid"))
      .rowsBetween(Window.unboundedPreceding, -1)
    var offsets = perPid.withColumn("__graft_off",
      coalesce(sum(col("__graft_cnt")).over(ow), lit(0L)))
    for (i <- sums.indices)
      offsets = offsets.withColumn(s"__graft_so$i",
        coalesce(sum(col(s"__graft_t$i")).over(ow), lit(0L)))
    val offCols = col("__graft_pid") +: col("__graft_off") +:
      sums.indices.map(i => col(s"__graft_so$i"))
    var out = withLocal
      .join(broadcast(offsets.select(offCols: _*)), Seq("__graft_pid"))
      .withColumn(rankCol, col("__graft_local") + col("__graft_off"))
    for (((nm, _), i) <- sums.zipWithIndex)
      out = out.withColumn(nm, col(s"__graft_ls$i") + col(s"__graft_so$i"))
    out.drop("__graft_pid" +: "__graft_local" +: "__graft_off" +:
      sums.indices.flatMap(i => Seq(s"__graft_ls$i", s"__graft_so$i")): _*)
  }

  /** Reference-faithful patient numbering: number BEFORE dedup (so dropped
    * duplicates leave gaps — verified behavior, SURVEY.md §2 P5), then
    * keep-first dedup on `keys`. */
  def numberThenDedup(df: DataFrame, keys: Seq[String], order: Column,
                      numCol: String): DataFrame =
    keepFirst(numberRows(df, order, numCol), keys, order)
}
