package graftbench

import org.apache.spark.sql.catalyst.expressions.{UnsafeProjection, XXH64}
import org.apache.spark.sql.execution.{ExternalRDDScanExec, FileSourceScanLike,
  QueryExecution, RDDScanExec, ReusedSubqueryExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike,
  ReusedExchangeExec, ShuffleExchangeLike}

/** Row count plus an order-insensitive 64-bit hash of a query result. */
final case class Fingerprint(rows: Long, hash: Long) {
  def show: String = f"$rows%d:$hash%016x"
}

object Fingerprint {

  /** Execute `qe`'s physical plan (the same `toRdd` a plain count runs)
    * and fingerprint its output: every row is projected to its canonical
    * `UnsafeRow` bytes, hashed with XXH64, and the hashes are summed, so
    * the result is independent of partitioning and row order. */
  def of(qe: QueryExecution): Fingerprint = {
    val types = qe.executedPlan.output.map(_.dataType).toArray
    val parts = qe.toRdd.mapPartitions { it =>
      val proj = UnsafeProjection.create(types)
      var n = 0L
      var h = 0L
      it.foreach { row =>
        val u = proj(row)
        h += XXH64.hashUnsafeBytes(u.getBaseObject, u.getBaseOffset, u.getSizeInBytes, 42L)
        n += 1
      }
      Iterator.single((n, h))
    }.collect()
    Fingerprint(parts.map(_._1).sum, parts.map(_._2).sum)
  }
}

/** Plan census: node counts walked from an executed physical plan. */
object Census {

  /** Counts for `plan` (AQE's final plan when adaptive), descending into
    * query stages and subqueries. Reused exchanges and subqueries are
    * counted once as reuses and not descended into; scans inside a cached
    * relation are not descended into either (they run only when the cache
    * is built). Parquet scans are keyed by the table directory name
    * (`<table>.parquet` under `dataDir`), everything else is `other`. */
  def of(plan: SparkPlan, dataDir: String): Map[String, Long] = {
    val acc = scala.collection.mutable.Map[String, Long]().withDefaultValue(0L)
    val dataPath = new org.apache.hadoop.fs.Path(dataDir).toUri.getPath.stripSuffix("/")
    def walk(p: SparkPlan): Unit = {
      p match {
        case a: AdaptiveSparkPlanExec => walk(a.executedPlan); return
        case s: QueryStageExec => walk(s.plan); return
        case _: ReusedExchangeExec => acc("reused_exchanges") += 1; return
        case _: ReusedSubqueryExec => acc("reused_subqueries") += 1; return
        case _: ShuffleExchangeLike | _: BroadcastExchangeLike => acc("exchanges") += 1
        case f: FileSourceScanLike =>
          val roots = f.relation.location.rootPaths
          val tables = roots.map { r =>
            val parent = r.getParent.toUri.getPath.stripSuffix("/")
            if (parent == dataPath && r.getName.endsWith(".parquet"))
              r.getName.stripSuffix(".parquet")
            else "other"
          }.distinct
          tables.foreach(t => acc(s"parquet_scans.$t") += 1)
        case _: InMemoryTableScanExec => acc("inmem_scans") += 1
        case _: RDDScanExec | _: ExternalRDDScanExec[_] => acc("rdd_scans") += 1
        case _ =>
      }
      p.children.foreach(walk)
      p.subqueries.foreach(walk)
    }
    walk(plan)
    acc.toMap
  }
}
