package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.engine.{Merge, Patients, TextFunctions => TF}
import graft.queries._
import graft.queries.Shared.t

/** Driver contract — one named query per implemented operator from
  * SURVEY.md §2 plus the training-data-pipeline operators, each paired
  * with a DuckDB-equivalent oracle. Each query is one [[QueryDef]]
  * record in its family file under `graft.queries`; this object
  * registers the families and derives the driver's three views. */
object SparkEntry {

  /** Flagship: the reference's patient-ingest pipeline (SURVEY.md §7.3) —
    * stage → keep-first dedup on identity keys with pre-dedup surrogate
    * numbering → DWH projection → MERGE — run over `customer` shaped as a
    * patient export. Driver smoke-checks rows>0 on sf0.001. */
  def entry(spark: SparkSession): DataFrame = {
    val dir = "/root/testdata/sf0.001"
    val staged = t(spark, dir, "customer").select(
      col("c_custkey").as("__src_order"),
      col("c_name").as("NOM"),
      col("c_mktsegment").as("PRENOM"),
      lit("01/01/1970").as("DATE_NAISSANCE"),
      lit("M").as("SEXE"),
      lit(null).cast("string").as("NOM_JEUNE_FILLE"),
      concat(lit("addr "), col("c_nationkey")).as("ADRESSE"),
      concat(lit("tel "), col("c_custkey")).as("TEL"),
      lit("75000").as("CP"),
      lit("Paris").as("VILLE"),
      lit("France").as("PAYS"),
      when(col("c_acctbal") < 0, lit("01/01/2020")).cast("string").as("DATE_MORT"),
      TF.zeroPadId(col("c_custkey")).as("HOSPITAL_PATIENT_ID"))
    val deduped = Patients.dedupAndNumber(staged)
    val patients = Patients.toDwhPatient(deduped, uploadId = 1L)
    val ipphist = Patients.toDwhIpphist(deduped, uploadId = 1L)
    Merge.upsert(
      existing = patients.limit(0),
      incoming = patients,
      keys = Seq("PATIENT_NUM"))
      .join(ipphist.select("PATIENT_NUM", "HOSPITAL_PATIENT_ID"), Seq("PATIENT_NUM"))
  }

  /** The driver's views of `defs`: builders and oracles by name, and
    * the names of the eager sinks. Throws on a name defined twice or an
    * empty oracle. */
  private[graft] def derive(defs: Seq[QueryDef]): (
      Map[String, (SparkSession, String) => DataFrame],
      Map[String, String], Set[String]) = {
    val twice = defs.groupBy(_.name).collect {
      case (n, ds) if ds.size > 1 => n }
    require(twice.isEmpty,
      s"query names defined twice: ${twice.toSeq.sorted.mkString(", ")}")
    val noOracle = defs.filter(_.oracleSql.trim.isEmpty).map(_.name)
    require(noOracle.isEmpty,
      s"queries without an oracle: ${noOracle.mkString(", ")}")
    (defs.map(d => d.name -> d.build).toMap,
      defs.map(d => d.name -> d.oracleSql).toMap,
      defs.filter(_.eagerSink).map(_.name).toSet)
  }

  /** The registry: every family's records, viewed through [[derive]]. */
  val (queries, oracleSql, eagerSinks) = derive(
    TpchQueries.all ++ StatsQueries.all ++ EventsQueries.all ++
      DedupQueries.all ++ SuffixQueries.all ++ GraphQueries.all ++
      SqliteQueries.all ++ StreamingQueries.all ++ TextQueries.all ++
      MultimodalQueries.all)
}
