package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.{AttributeSet, Expression, PredicateHelper, SubqueryExpression}
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LocalRelation, LogicalPlan, Project, Range, SubqueryAlias, Union}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.execution.datasources.{FilePartition, HadoopFsRelation, LogicalRelation}

/** Estimate a DataFrame's SCAN partition count from its analyzed plan,
  * without converting it to an RDD. `df.rdd.getNumPartitions` — the
  * probe r19's `spread`/`compactUnion` guards used — forces a full
  * physical-planning pass whose result is then thrown away; on the very
  * wide-align shapes those guards protect, that doubles the union
  * subtree's planning cost (ADVICE r19). The estimate walks only
  * NARROW nodes (union/project/filter/alias) over recognizable leaves;
  * anything that could introduce an exchange (join, aggregate, window,
  * repartition, ...) returns None and the caller falls back to the
  * exact planned-RDD probe.
  *
  * File-scan estimate: ceil(total adjusted bytes / maxSplitBytes) — the
  * greedy-packing lower bound with Spark's exact split-size formula.
  * The guards this feeds have generous margins (&lt; cores, &gt; 4x
  * cores), so the bound's ≤2x error only moves borderline cases, where
  * either choice is benign. A partitioned file scan counts only the
  * partitions that the partition predicates of the Filters above it
  * keep, as physical planning would prune them.
  */
object PartitionEstimate extends PredicateHelper {

  def leafScanPartitions(df: DataFrame): Option[Long] = {
    val spark = df.queryExecution.sparkSession
    // `conds`: conjuncts of the Filters above `p`. A Union's output
    // attributes are its first child's, so they stop there.
    def est(p: LogicalPlan, conds: Seq[Expression]): Option[Long] = p match {
      case u: Union =>
        u.children.foldLeft(Option(0L)) { (acc, c) =>
          for (a <- acc; e <- est(c, Nil)) yield a + e
        }
      case pr: Project       => est(pr.child, conds)
      case f: Filter         => est(f.child, conds ++ splitConjunctivePredicates(f.condition))
      case s: SubqueryAlias  => est(s.child, conds)
      case r: Range =>
        Some(r.numSlices.getOrElse(spark.sparkContext.defaultParallelism).toLong)
      case l: LogicalRDD => Some(l.rdd.getNumPartitions.toLong)
      case l: LocalRelation =>
        // LocalTableScanExec parallelism: min(rows, defaultParallelism), >= 1
        Some(math.max(1L,
          math.min(l.data.length.toLong, spark.sparkContext.defaultParallelism.toLong)))
      case lr: LogicalRelation =>
        lr.relation match {
          case fsr: HadoopFsRelation =>
            // the listing is the same (cached) one physical planning uses
            val openCost = spark.sessionState.conf.filesOpenCostInBytes
            val resolver = spark.sessionState.conf.resolver
            val partAttrs = AttributeSet(lr.output.filter(a =>
              fsr.partitionSchema.exists(f => resolver(f.name, a.name))))
            val partFilters = conds.filter(c => c.deterministic && c.references.nonEmpty &&
              c.references.subsetOf(partAttrs) && !SubqueryExpression.hasSubquery(c))
            val sizes = fsr.location.listFiles(partFilters, Nil).flatMap(_.files.map(_.getLen))
            val total = sizes.map(_ + openCost).sum
            val maxSplit = FilePartition.maxSplitBytes(spark, total)
            Some(math.max(1L, (total + maxSplit - 1) / maxSplit))
          case _ => None
        }
      case _ => None
    }
    est(df.queryExecution.analyzed, Nil)
  }
}
