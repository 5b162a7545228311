package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.{UnsafeProjection, UnsafeRow}

/** Cache-lifecycle helpers for multi-stage ops (LSH candidate pipelines)
  * that persist intermediate frames consumed by several downstream joins.
  */
private[graft] object Caches {

  /** Sub-plan capture for PlanAudit/ContractSpec: a localCheckpoint
    * TRUNCATES lineage, so the final plan of an LSH pipeline shows only
    * the post-materialization tail — the expensive candidate-generation
    * stages would escape any plan audit. With capture enabled, every
    * [[small]] records the physical plan it is about to materialize, so
    * "no nested loops anywhere" is machine-checked across ALL stages,
    * not just the visible tail. */
  private val captured = scala.collection.mutable.ArrayBuffer.empty[String]
  private val capturedPlans =
    scala.collection.mutable.ArrayBuffer.empty[org.apache.spark.sql.execution.SparkPlan]
  @volatile private var capturing = false

  def startCapture(): Unit =
    synchronized { captured.clear(); capturedPlans.clear(); capturing = true }

  /** Stop capturing and return every sub-plan recorded since start. */
  def stopCapture(): Seq[String] =
    synchronized { capturing = false; captured.toList }

  /** Like [[stopCapture]] but returns the plan OBJECTS, for the
    * PlanGuard object-level walks (bounded-build-side proofs need the
    * tree, not its string). */
  def stopCapturePlans(): Seq[org.apache.spark.sql.execution.SparkPlan] =
    synchronized { capturing = false; capturedPlans.toList }

  /** Eagerly materialize a SMALL frame (candidate-pair lists, model-sized
    * artifacts) via `localCheckpoint`: computation runs now, lineage is
    * truncated so upstream `persist`ed inputs can be released immediately
    * (no recompute later), and the checkpoint blocks are reference-counted
    * by the ContextCleaner — freed when the frame is garbage-collected,
    * so long-lived sessions (Verify/Bench run 40+ queries in one session)
    * don't accumulate caches and callers owe no unpersist contract.
    *
    * Only for frames orders of magnitude smaller than the corpus; at
    * warehouse scale a production pipeline would write such results to a
    * table (localCheckpoint data is lost on executor failure — an
    * acceptable trade for intra-query candidate lists, not for outputs).
    */
  def small(df: DataFrame): DataFrame = {
    if (capturing) synchronized {
      val p = df.queryExecution.executedPlan
      captured += p.toString
      capturedPlans += p
    }
    df.localCheckpoint(eager = true)
  }

  /** RDD ids of checkpoints whose row count GROWS with the data —
    * [[iteration]] frames and the [[graft.engine.Dedup.numberRows]]
    * internal frame. PlanGuard's bounded-build-side proof accepts an
    * RDD scan only when it is NOT in this set: without the registry,
    * every corpus-scale checkpoint would launder into a "provably
    * bounded" BroadcastNestedLoopJoin build side (r14 gate hardening —
    * the r13 comment "only producer is Caches.small, model-sized by
    * contract" stopped being true the moment iteration() shipped). */
  private val corpusRdds = java.util.concurrent.ConcurrentHashMap
    .newKeySet[Int]()

  /** Like [[small]] but for frames that scale with the corpus: the
    * checkpoint is registered so [[modelSized]] (and through it the
    * PlanGuard bounded proof) refuses to treat its scan as bounded. */
  def corpusScale(df: DataFrame): DataFrame = {
    val ck = small(df)
    ck.queryExecution.analyzed match {
      case l: org.apache.spark.sql.execution.LogicalRDD =>
        corpusRdds.add(l.rdd.id)
      case _ =>
    }
    ck
  }

  /** False iff `rddId` belongs to a checkpoint registered as
    * corpus-scale. Unknown ids default to true — every non-registered
    * checkpoint producer in this library is model-sized ([[small]]'s
    * contract), and external RDD scans don't occur in its plans. */
  def modelSized(rddId: Int): Boolean = !corpusRdds.contains(rddId)

  /** Like [[corpusScale]], but FUSES the checkpoint's materialization
    * job with a per-partition size: returns the checkpointed frame plus
    * `sizes(i)` = (rows, bytes) of partition i of the materialized RDD,
    * the bytes being the checkpointed rows' `UnsafeRow` sizes (what the
    * blocks hold in memory, before any compression).
    * [[graft.engine.Dedup.numberRows]] previously paid TWO blocking
    * driver actions per call — the eager localCheckpoint job,
    * then a `groupBy(pid).count().collect()` re-scan of the cached
    * blocks — and the suffix-doubling family pays numberRows once per
    * level, so the double action was the largest remaining block of
    * driver round trips in the suite (r14 verdict lead #1). Here ONE
    * `runJob` both populates the checkpoint blocks (the marked RDD is
    * persisted, so computing each partition caches it; the end-of-job
    * `doCheckpoint` then finds nothing left to materialize) and
    * returns the per-partition sizes. Counting rides runJob's
    * per-partition RESULT channel — exactly-once per partition by
    * construction, with none of the retry double-count hazards a
    * transformation-site accumulator would carry. The bytes ride the
    * same loop, so a caller can choose its next step by the batch's
    * size without another job ([[graft.engine.Documents.pipeline]]). */
  def corpusScaleCounted(df: DataFrame): (DataFrame, Array[(Long, Long)]) = {
    if (capturing) synchronized {
      val p = df.queryExecution.executedPlan
      captured += p.toString
      capturedPlans += p
    }
    val cp = df.localCheckpoint(eager = false)
    // the job runs on the checkpoint-marked internal RDD ITSELF (the
    // LogicalRDD's rdd) — exactly what an eager checkpoint's count()
    // runs on. Going through cp.queryExecution.toRdd instead would
    // insert RDDScanExec's per-row UnsafeProjection copy, a full extra
    // row-copy pass over the corpus (measured: the toRdd form made the
    // suffix family 10-15% SLOWER than the unfused two-job shape).
    // Partition indexing is 1:1, so result index i IS partition i of
    // the frame (the pid that monotonically_increasing_id encodes).
    val rdd = cp.queryExecution.analyzed match {
      case l: org.apache.spark.sql.execution.LogicalRDD =>
        corpusRdds.add(l.rdd.id)
        l.rdd
      case _ => cp.queryExecution.toRdd
    }
    val schema = df.schema
    val sizes = df.sparkSession.sparkContext.runJob(rdd,
      (it: Iterator[org.apache.spark.sql.catalyst.InternalRow]) => {
        lazy val toUnsafe = UnsafeProjection.create(schema)
        var n = 0L
        var bytes = 0L
        while (it.hasNext) {
          bytes += (it.next() match {
            case u: UnsafeRow => u.getSizeInBytes
            case r => toUnsafe(r).getSizeInBytes
          })
          n += 1
        }
        (n, bytes)
      })
    (cp, sizes)
  }

  /** Like [[small]], but FUSES the materialization job with a count of
    * rows satisfying `pred` (evaluated as an appended boolean column,
    * dropped again on the returned frame — the checkpoint carries one
    * extra byte per row). The count rides the same runJob that
    * populates the checkpoint blocks, so an iterative op's
    * convergence test ("did any row change this round?") costs ZERO
    * extra actions instead of a separate scan-or-join job per round
    * (r15: connectedComponents paid one join+isEmpty action per
    * iteration on top of the two checkpoints). Lifecycle and
    * PlanAudit capture are [[small]]'s. A row whose `pred` is NULL
    * counts as false (SQL WHERE semantics). `df` must not already
    * carry a `__graft_flag` column: it would be overwritten and then
    * dropped from the returned frame. */
  def smallCountedTrue(df: DataFrame, pred: org.apache.spark.sql.Column)
      : (DataFrame, Long) = {
    require(!df.columns.contains("__graft_flag"),
      "smallCountedTrue: input already has a __graft_flag column")
    val withFlag = df.withColumn("__graft_flag", pred)
    if (capturing) synchronized {
      val p = withFlag.queryExecution.executedPlan
      captured += p.toString
      capturedPlans += p
    }
    val cp = withFlag.localCheckpoint(eager = false)
    val idx = cp.schema.fieldIndex("__graft_flag")
    // run on the marked internal RDD itself, not toRdd — see
    // [[corpusScaleCounted]]'s projection-copy note
    val rdd = cp.queryExecution.analyzed match {
      case l: org.apache.spark.sql.execution.LogicalRDD => l.rdd
      case _ => cp.queryExecution.toRdd
    }
    val counts = df.sparkSession.sparkContext.runJob(rdd,
      (it: Iterator[org.apache.spark.sql.catalyst.InternalRow]) => {
        var n = 0L
        while (it.hasNext) {
          val r = it.next()
          if (!r.isNullAt(idx) && r.getBoolean(idx)) n += 1L
        }
        n
      })
    (cp.drop("__graft_flag"), counts.sum)
  }

  /** Like [[smallCountedTrue]] but folding (row count, XOR of a long
    * hash column) — the connectedComponentsStar convergence SIGNATURE
    * (count, bit_xor(xxhash64(a, b))), which previously cost its own
    * aggregation job per round on top of the round's checkpoint.
    * Nulls in `h` are skipped, matching bit_xor's null-ignoring
    * semantics (an all-null/empty frame signs as (n, 0), exactly what
    * the old `sig()` returned after its null guard). `df` must not
    * already carry a `__graft_h` column (see [[smallCountedTrue]]). */
  def smallCountedXor(df: DataFrame, h: org.apache.spark.sql.Column)
      : (DataFrame, Long, Long) = {
    require(!df.columns.contains("__graft_h"),
      "smallCountedXor: input already has a __graft_h column")
    val withH = df.withColumn("__graft_h", h)
    if (capturing) synchronized {
      val p = withH.queryExecution.executedPlan
      captured += p.toString
      capturedPlans += p
    }
    val cp = withH.localCheckpoint(eager = false)
    val idx = cp.schema.fieldIndex("__graft_h")
    val rdd = cp.queryExecution.analyzed match {
      case l: org.apache.spark.sql.execution.LogicalRDD => l.rdd
      case _ => cp.queryExecution.toRdd
    }
    val parts = df.sparkSession.sparkContext.runJob(rdd,
      (it: Iterator[org.apache.spark.sql.catalyst.InternalRow]) => {
        var n = 0L
        var x = 0L
        while (it.hasNext) {
          val r = it.next()
          n += 1L
          if (!r.isNullAt(idx)) x ^= r.getLong(idx)
        }
        (n, x)
      })
    (cp.drop("__graft_h"), parts.map(_._1).sum,
      parts.map(_._2).foldLeft(0L)(_ ^ _))
  }

  /** Eagerly materialize a CORPUS-SCALE iteration frame (prefix-
    * doubling round tables, GD feature streams — one row per token
    * position or per doc×bucket), because iteration loops consume
    * each round frame 2–3× and would otherwise recompute the whole
    * upstream chain per use (~3^rounds work).
    *
    * Versus [[small]]: the CONTRACT differs — the caller owes an
    * explicit [[release]] as soon as the next round frame is
    * materialized, so a loop never pins more than ~2 corpus-sized
    * block sets regardless of round count (advisor r11; [[small]]'s
    * GC-driven cleanup is fine for model-sized artifacts but lets a
    * log-depth loop accumulate corpus-scale blocks for the life of
    * the query). Storage is localCheckpoint's raw-row MEMORY_AND_DISK
    * blocks — measured ~1.7x faster end-to-end than `persist()`'s
    * columnar cache for these shapes (encode/decode dominates).
    * Accepted trade, documented: checkpoint blocks die with their
    * executor; the warehouse-scale form of a doubling loop writes
    * each round to a table instead, and on the local-mode harness
    * executor loss is process death anyway. */
  def iteration(df: DataFrame): DataFrame = corpusScale(df)

  /** Free an [[iteration]] frame's blocks NOW. The frame must never be
    * read again (lineage was truncated — a late read fails loudly, it
    * does not silently recompute). */
  def release(df: DataFrame): Unit =
    df.queryExecution.analyzed match {
      case l: org.apache.spark.sql.execution.LogicalRDD =>
        l.rdd.unpersist(blocking = false)
      case _ => // not a materialized frame — nothing to free
    }
}
