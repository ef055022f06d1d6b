package graft.index.rules

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.types.{DataType, StructType}

import graft.index.analysis.Reasons._
import graft.index.dataskipping.{DataSkippingFileIndex, DataSkippingIndexDescriptor, Sketches}

/**
 * Rewrites `Filter(cond, scan)` to the same scan behind a
 * [[DataSkippingFileIndex]] that prunes source files via the translated
 * sketch predicate (reference:
 * index/dataskipping/rules/ApplyDataSkippingIndex.scala:33-105). Lowest
 * score: covering-index rewrites win when both apply.
 */
object DataSkippingRule extends GraftIndexRule {

  override def apply(
      spark: SparkSession,
      plan: LogicalPlan,
      candidates: Map[LogicalPlan, Seq[CandidateMatch]],
      recurse: LogicalPlan => (LogicalPlan, Int),
      verdicts: Option[Verdicts]): Option[(LogicalPlan, Int)] = {
    val filter = plan match {
      case f: Filter => f
      case _ => return None
    }
    val rel = filter.child match {
      case r: LogicalRelation if candidates.contains(r) => r
      case _ => return None
    }
    // data skipping tolerates any overlap: files without a valid index
    // row are simply never pruned
    val dsCandidates = candidates(rel).collect {
      case m if m.entry.descriptor.isInstanceOf[DataSkippingIndexDescriptor] =>
        (m, m.entry.descriptor.asInstanceOf[DataSkippingIndexDescriptor])
    }
    if (!filter.condition.deterministic) {
      verdicts.foreach(_.refuse(dsCandidates.map(_._1),
        IneligibleFilterCondition(filter.condition.sql)))
      return None
    }
    if (dsCandidates.isEmpty) return None

    // most sketches wins (reference: DataSkippingIndexRanker.scala:25-38);
    // index name breaks ties so selection is listing-order independent
    val ranked = dsCandidates.sortBy(c => (-c._2.sketches.size, c._1.entry.name))
    verdicts.foreach(v => ranked.foreach { case (m, d) =>
      if (translate(spark, filter, m, d).isDefined) v.eligible(m.entry)
      else v.refuse(m.entry, PredicateNotTranslatable())
    })
    ranked.view.flatMap { case (m, d) =>
      translate(spark, filter, m, d).map(build(spark, filter, rel, m, d, _))
    }.headOption.map(p => (p, RuleScores.DataSkipping))
  }

  /** The filter as a predicate over the index's sketch columns, if some
    * sketch can evaluate it. */
  private def translate(
      spark: SparkSession,
      filter: Filter,
      m: CandidateMatch,
      d: DataSkippingIndexDescriptor): Option[Expression] = {
    val entry = m.entry
    // sketch specs + schema parse + the index-data relation resolution
    // are immutable per log id — cache per session (this ran a full
    // spark.read resolution on every Filter-node visit; PlanArtifacts)
    // content-addressed: name+id alone can collide across fixture system
    // paths (see ScanSubstitution.indexScan)
    val (sketches, indexSchema) = PlanArtifacts.getOrCompute[
        (Seq[graft.index.dataskipping.Sketch], StructType)](
        spark, s"ds#${entry.name}#${entry.id}#" + PlanArtifacts.contentKey(
          d.sketches.map(_.toString) :+ d.schemaJson)) {
      (Sketches.fromSpecs(d.sketches),
        DataType.fromJson(d.schemaJson).asInstanceOf[StructType])
    }
    // translate FIRST against the schema fields — instantiating the index
    // DataFrame (file listing + analysis) for every untranslatable filter
    // would be wasted per-query planning work. The resulting attributes
    // are remapped by name onto the relation lazily at scan time
    // (DataSkippingFileIndex.prunedIds).
    val indexOutput = indexSchema.fields.toIndexedSeq.map(f =>
      org.apache.spark.sql.catalyst.expressions
        .AttributeReference(f.name, f.dataType, f.nullable)())
    val resolver = spark.sessionState.conf.resolver
    def attrOf(name: String): Expression =
      indexOutput.find(a => resolver(a.name, name)).getOrElse(
        throw new IllegalStateException(s"index column $name missing"))

    Sketches.translate(filter.condition, sketches, attrOf, resolver)
  }

  private def build(
      spark: SparkSession,
      filter: Filter,
      rel: LogicalRelation,
      m: CandidateMatch,
      d: DataSkippingIndexDescriptor,
      translated: Expression): LogicalPlan = {
    val entry = m.entry
    val indexData = PlanArtifacts.getOrCompute[org.apache.spark.sql.DataFrame](
        spark, s"dsdata#${entry.name}#${entry.id}#" +
          PlanArtifacts.contentKey(entry.content.filePaths)) {
      spark.read.schema(DataType.fromJson(d.schemaJson).asInstanceOf[StructType])
        .parquet(entry.content.filePaths: _*)
    }
    val hfs = rel.relation.asInstanceOf[HadoopFsRelation]
    // only still-current logged files may be pruned: a modified file
    // (same path, new size/mtime) counts as deleted and keeps no
    // stale sketch mapping
    val deletedKeys = m.deleted
      .map(f => (f.path, f.size, f.modifiedTime)).toSet
    val fileIdByPath = entry.relations.head.files
      .filterNot(f => deletedKeys.contains((f.path, f.size, f.modifiedTime)))
      .map(f => f.path -> f.id).toMap
    val skipping = new DataSkippingFileIndex(
      spark, hfs.location, indexData, translated, fileIdByPath)
    val newHfs = hfs.copy(
      location = skipping,
      options = hfs.options + (IndexCandidates.IndexRelationMarker -> entry.name))(spark)
    filter.copy(child = new LogicalRelation(
      newHfs, rel.output, rel.catalogTable, rel.isStreaming, rel.stream))
  }
}
