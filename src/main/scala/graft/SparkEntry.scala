package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  * Aggregates the per-module QueryDef lists; every entry with an oracle
  * participates in the DuckDB hash-compare gate, the rest get rows>0.
  */
object SparkEntry {

  /** Per-module QueryDef lists tagged with the owning module — the
    * SINGLE source for both [[defs]] and the CATALOG.md generator
    * (graft.Catalog), so the catalog cannot miss a module by
    * construction. */
  def moduleDefs: Seq[(String, Seq[QueryDef])] = Seq(
    "graft.queries.Tpch" -> graft.queries.Tpch.defs,
    "graft.queries.Analytics" -> graft.queries.Analytics.defs,
    "graft.operators.CoreOps" -> graft.operators.CoreOps.defs,
    "graft.operators.KvsOps" -> graft.operators.KvsOps.defs,
    "graft.operators.EventOps" -> graft.operators.EventOps.defs,
    "graft.operators.JoinOps" -> graft.operators.JoinOps.defs,
    "graft.llm.Dedup" -> graft.llm.Dedup.defs,
    "graft.llm.TextOps" -> graft.llm.TextOps.defs,
    "graft.llm.TrainPrep" -> graft.llm.TrainPrep.defs,
    "graft.llm.Curate" -> graft.llm.Curate.defs,
    "graft.llm.AnnOps" -> graft.llm.AnnOps.defs,
    "graft.llm.MultiModal" -> graft.llm.MultiModal.defs,
    "graft.sources.Ingest" -> graft.sources.Ingest.defs,
    "graft.sources.ZipSplice" -> graft.sources.ZipSplice.defs,
    "graft.sources.CmdFarm" -> graft.sources.CmdFarm.defs,
    "graft.sources.DpRun" -> graft.sources.DpRun.defs,
    "graft.sources.Locality" -> graft.sources.Locality.defs,
    "graft.core.Checkpoint" -> graft.core.Checkpoint.defs,
    "graft.core.SpawnerKvs" -> graft.core.SpawnerKvs.defs,
    "graft.core.Lanes" -> graft.core.Lanes.defs,
    "graft.algos.Iterative" -> graft.algos.Iterative.defs,
    "graft.algos.Graph" -> graft.algos.Graph.defs,
    "graft.algos.FlexDice" -> graft.algos.FlexDice.defs)

  /** All implemented queries, one per SURVEY.md §2 operator/capability. */
  def defs: Seq[QueryDef] = moduleDefs.flatMap(_._2)

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame = {
    val d = "/root/testdata/sf0.001"
    graft.queries.Tpch.defs.head.fn(spark, d)
  }

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    defs.map(q => q.name -> q.fn).toMap

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omitted for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    defs.flatMap(q => q.oracle.map(q.name -> _)).toMap

  /** Java-friendly oracled-query name list for the Python harness
    * (tools/pysmoke.py): py4j cannot iterate a scala Map's keys. */
  def oracleNames: java.util.List[String] = {
    import scala.jdk.CollectionConverters._
    oracleSql.keys.toSeq.sorted.asJava
  }

  /** Build-or-serve entry points for every PERSISTED index table, keyed
    * by row name and derived from [[graft.sources.IndexSpec.all]], so no
    * index can be missing here. Each entry is the row's session-cached
    * serve: it forces the build when stale and is a cheap serve when
    * fresh. Bench drives these during warmup, timing each, so the
    * one-off index-build cost is reported as its own `index_build_s`
    * metric instead of being silently charged to whichever indexed gate
    * happens to run first in a cold window — exactly the split a
    * production deployment sees (index build = ingest-time cost, gates =
    * query-time cost).
    *
    * Keys changed when the map became derived: `chunks` (the
    * paragraph-chunk index) is new, so Bench now pre-builds and times it
    * too; `vecstore` is now `vec_store`; `ivf` is now two rows,
    * `ivf_cents` and `ivf_assign`. The `copairs` and `tradeedges`
    * entries now take the session-cached serve like every other row
    * (they re-checked the fingerprint on every call before). */
  def indexes: Map[String, (SparkSession, String) => DataFrame] =
    graft.sources.IndexSpec.all.map(r => r.name -> (r.apply _)).toMap
}
