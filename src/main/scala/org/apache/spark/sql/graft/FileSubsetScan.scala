package org.apache.spark.sql.graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan, Project}
import org.apache.spark.sql.execution.datasources.{FileIndex, HadoopFsRelation,
  LogicalRelation, PartitionDirectory, PartitioningAwareFileIndex}
import org.apache.spark.sql.types.StructType

/** A frame's plan run over a SUBSET of the files its one listed file
  * relation captured: the read behind growing a driver-side collect by
  * the files that landed since (GraphAnn's vector pin). */
object FileSubsetScan {

  /** `df` reading only the captured files whose path (`Path.toString`)
    * is in `keep`, or None unless `df` is row-local over its files: one
    * listed file relation under deterministic Project/Filter nodes only.
    * Then the rows of the full frame are exactly the union of the rows of
    * any partition of its files, so `restrictTo(df, added)` yields what a
    * full read adds over a read of the other files. Partition values are
    * still taken from the frame's own index.
    */
  def restrictTo(df: DataFrame, keep: Set[String]): Option[DataFrame] = {
    val plan = df.queryExecution.optimizedPlan
    def rowLocal(p: LogicalPlan): Boolean = p match {
      case Project(list, child) => list.forall(_.deterministic) && rowLocal(child)
      case Filter(cond, child) => cond.deterministic && rowLocal(child)
      case LogicalRelation(fs: HadoopFsRelation, _, _, _, _) =>
        fs.location.isInstanceOf[PartitioningAwareFileIndex]
      case _ => false
    }
    if (!rowLocal(plan)) None
    else Some(org.apache.spark.sql.classic.Dataset.ofRows(
      df.sparkSession.asInstanceOf[org.apache.spark.sql.classic.SparkSession],
      plan.transform { case lr @ LogicalRelation(fs: HadoopFsRelation, _, _, _, _) =>
        lr.copy(relation = fs.copy(location = new Subset(fs.location, keep))(
          fs.sparkSession))
      }))
  }

  /** `base` listing only the files in `keep` (its partition values kept). */
  private final class Subset(base: FileIndex, keep: Set[String]) extends FileIndex {
    override def rootPaths: Seq[org.apache.hadoop.fs.Path] = base.rootPaths
    override def listFiles(partitionFilters: Seq[Expression],
        dataFilters: Seq[Expression]): Seq[PartitionDirectory] =
      base.listFiles(partitionFilters, dataFilters)
        .map(d => d.copy(files = d.files.filter(f => keep(f.getPath.toString))))
        .filter(_.files.nonEmpty)
    private def kept = listFiles(Nil, Nil).flatMap(_.files)
    override def inputFiles: Array[String] = kept.map(_.getPath.toUri.toString).toArray
    override def refresh(): Unit = ()
    override def sizeInBytes: Long = kept.map(_.getLen).sum
    override def partitionSchema: StructType = base.partitionSchema
  }
}
