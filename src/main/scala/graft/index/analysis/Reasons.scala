package graft.index.analysis

/**
 * Typed not-applied reasons for `whyNot` (reference:
 * index/plananalysis/FilterReason.scala:33-158 — the same code strings
 * and argument granularity, re-derived). Each renders as
 * `CODE: detail` so callers can match on the code and humans can read
 * the args.
 */
sealed abstract class Reason(val code: String) {
  def detail: String
  final override def toString: String = s"$code: $detail"
}

object Reasons {

  // ---------------------------------------------------------- generic
  final case class ApiServed(kind: String, api: String)
      extends Reason("API_SERVED") {
    def detail = s"$kind indexes do not rewrite plans; query via $api"
  }
  final case class NoFileBasedSource()
      extends Reason("NO_FILE_BASED_SOURCE") {
    def detail = "plan has no file-based relation"
  }
  final case class ColSchemaMismatch(sourceColumns: Seq[String], indexColumns: Seq[String])
      extends Reason("COL_SCHEMA_MISMATCH") {
    def detail = s"column schema does not match; " +
      s"sourceColumns=[${sourceColumns.mkString(",")}], " +
      s"indexColumns=[${indexColumns.mkString(",")}]"
  }
  final case class AnotherIndexApplied(appliedIndex: String)
      extends Reason("ANOTHER_INDEX_APPLIED") {
    def detail = s"another candidate index is applied: $appliedIndex"
  }
  final case class LiveLakeDeletes()
      extends Reason("LIVE_LAKE_DELETES") {
    def detail = "the lake snapshot applies row-level deletes in its scan " +
      "(Delta deletion vectors / Iceberg delete files); an index over its " +
      "files would resurrect deleted rows. LakeTable.compact materializes " +
      "the deletes"
  }
  final case class MergeOnReadMetadata()
      extends Reason("MERGE_ON_READ_METADATA") {
    def detail = "plan consumes _metadata columns; substituting the scan " +
      "would perturb (file_path, row_index)"
  }
  final case class Outscored()
      extends Reason("OUTSCORED") {
    def detail = "the original plan scored higher than any rewrite"
  }
  final case class InterestingOrderTie(
      appliedIndex: String, appliedCols: Seq[String], appliedDemand: Int,
      cols: Seq[String], demand: Int)
      extends Reason("LOST_INTERESTING_ORDER_TIE") {
    def detail = s"eligible, but '$appliedIndex' is bucketed on " +
      s"[${appliedCols.mkString(",")}] with ancestor clustering demand " +
      s"$appliedDemand vs this index's [${cols.mkString(",")}] demand " +
      s"$demand — downstream joins/groupBys ride the applied layout"
  }

  // ------------------------------------------------- file-set / drift
  final case class SourceDataChanged()
      extends Reason("SOURCE_DATA_CHANGED") {
    def detail = "index signature does not match and hybrid scan is disabled"
  }
  final case class NoCommonFiles()
      extends Reason("NO_COMMON_FILES") {
    def detail = "no indexed source file is still current"
  }
  final case class TooMuchAppended(appendedRatio: Double, threshold: Double)
      extends Reason("TOO_MUCH_APPENDED") {
    def detail = f"appendedRatio=[$appendedRatio%.2f] exceeds " +
      f"hybrid-scan threshold [$threshold%.2f]"
  }
  final case class TooMuchDeleted(deletedRatio: Double, threshold: Double)
      extends Reason("TOO_MUCH_DELETED") {
    def detail = f"deletedRatio=[$deletedRatio%.2f] exceeds " +
      f"hybrid-scan threshold [$threshold%.2f]"
  }
  final case class NoDeleteSupport()
      extends Reason("NO_DELETE_SUPPORT") {
    def detail = "source files were deleted and the index has no lineage " +
      "column to filter their rows (rebuild with lineage enabled)"
  }

  // ------------------------------------------------------ filter shape
  final case class NoFilterOrJoin()
      extends Reason("NO_FILTER_OR_JOIN") {
    def detail = "relation is scanned without an eligible filter/join above it"
  }
  final case class NoFilter(kind: String)
      extends Reason("NO_FILTER") {
    def detail = s"$kind applies to filter queries"
  }
  final case class IneligibleFilterCondition(condition: String)
      extends Reason("INELIGIBLE_FILTER_CONDITION") {
    def detail = s"ineligible (non-deterministic) filter condition: $condition"
  }
  final case class NoFirstIndexedColCond(firstIndexedCol: String, filterCols: Seq[String])
      extends Reason("NO_FIRST_INDEXED_COL_COND") {
    def detail = "the first indexed column must appear in the filter; " +
      s"firstIndexedCol=[$firstIndexedCol], " +
      s"filterCols=[${filterCols.mkString(",")}]"
  }
  final case class MissingRequiredCol(requiredCols: Seq[String], indexCols: Seq[String])
      extends Reason("MISSING_REQUIRED_COL") {
    def detail = "index does not contain required columns; " +
      s"requiredCols=[${requiredCols.mkString(",")}], " +
      s"indexCols=[${indexCols.mkString(",")}]"
  }
  final case class PredicateNotTranslatable()
      extends Reason("PREDICATE_NOT_TRANSLATABLE") {
    def detail = "no sketch can evaluate the filter"
  }
  final case class ZOrderRequiresExactMatch()
      extends Reason("ZORDER_REQUIRES_EXACT_MATCH") {
    def detail = "source files changed; z-order file pruning needs an exact snapshot"
  }

  // -------------------------------------------------------- join shape
  final case class NotEligibleJoin(reason: String)
      extends Reason("NOT_ELIGIBLE_JOIN") {
    def detail = s"join condition is not eligible: $reason"
  }
  final case class NoAvailJoinIndexPair(leftOrRight: String)
      extends Reason("NO_AVAIL_JOIN_INDEX_PAIR") {
    def detail = s"no available index for the $leftOrRight subplan; " +
      "both sides need one for a join rewrite"
  }
  final case class MissingIndexedCol(
      leftOrRight: String, requiredIndexedCols: Seq[String], indexedCols: Seq[String])
      extends Reason("MISSING_INDEXED_COL") {
    def detail = s"index does not cover the $leftOrRight join keys; " +
      s"requiredIndexedCols=[${requiredIndexedCols.mkString(",")}], " +
      s"indexedCols=[${indexedCols.mkString(",")}]"
  }
  final case class NotAllJoinColIndexed(
      leftOrRight: String, joinCols: Seq[String], indexedCols: Seq[String])
      extends Reason("NOT_ALL_JOIN_COL_INDEXED") {
    def detail = "indexed columns must be exactly the join columns; " +
      s"joinCols=[${joinCols.mkString(",")}], " +
      s"$leftOrRight indexedCols=[${indexedCols.mkString(",")}]"
  }
  final case class NoCompatibleJoinIndexPair()
      extends Reason("NO_COMPATIBLE_JOIN_INDEX_PAIR") {
    def detail = "no left/right index pair aligns on the same key permutation"
  }
}
