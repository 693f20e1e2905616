package graft.plans

import scala.collection.concurrent.TrieMap

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Alias, Attribute, AttributeReference, Literal, NamedExpression}
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Count, Max, Min}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, LocalRelation, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.types.LongType

import graft.core.{TrailInfo, TrailSchema}

/** Metadata-only aggregate rewrite — the optimizer-rule leg of graft's
  * Catalyst integration (functions: GraftExtensions.injectFunction;
  * whole operator: AsOfJoinStrategy; this: injectOptimizerRule).
  *
  * The reference answers num_trails / num_events / min/max timestamp from
  * the `info` file written at finalize (src/tdb_encode.c:191-216, read at
  * src/tdb.c:677-700) — NEVER by scanning. graft's `TrailDB` accessors
  * already read the `_graft_info.json` sidecar, but a user writing plain
  * DataFrame code (a parquet read of the db, then `.agg(count(*))`) would still
  * pay a full scan — at 100 TB, a full-corpus pass (and for
  * count(distinct uuid), a corpus-wide shuffle) to answer a number the
  * sidecar already holds. This rule rewrites such aggregates to a
  * `LocalRelation`, the same shape Spark's own OptimizeMetadataOnlyQuery
  * uses for partition-column queries.
  *
  * Rewrites `Aggregate` with NO grouping keys over an UNFILTERED scan of
  * a finalized graft db (identified by its sidecar) when every aggregate
  * is one of:
  *   - `count(literal)` (count(*) / count(1))        → num_events
  *   - `count(DISTINCT uuid)`                        → num_trails
  *   - `min(time)` / `max(time)` (LongType)          → min/max timestamp
  *
  * Soundness guards: any Filter below the aggregate, any non-attribute
  * projection, any other aggregate function, an aggregate-level FILTER
  * clause, a count of a NULL literal, an empty db, or an all-null time
  * column (min/max must stay NULL, the sidecar stores 0) disables the
  * rewrite. The sidecar cache is validated against the file's
  * (modTime, length), so a same-path RE-finalize (finalizeTo overwrites)
  * serves the fresh sidecar, not a stale one.
  */
case class MetadataOnlyAggRule(spark: SparkSession) extends Rule[LogicalPlan] {

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transform {
    case agg @ Aggregate(Nil, aggExprs, child, _) =>
      unfilteredScanRoot(child)
        .flatMap(MetadataOnlyAggRule.infoFor(spark, _))
        .flatMap(rewrite(agg, aggExprs, _))
        .getOrElse(agg)
  }

  /** The scan path below the aggregate: chains of attribute-only Projects
    * over a single file-source relation, nothing else (a Filter anywhere
    * disqualifies). Returns the scan's root path when it is one
    * directory. */
  private def unfilteredScanRoot(plan: LogicalPlan): Option[String] = plan match {
    case Project(projectList, child)
        if projectList.forall(_.isInstanceOf[AttributeReference]) =>
      unfilteredScanRoot(child)
    case lr: LogicalRelation => lr.relation match {
      // the sidecar answers PARQUET scans of the WHOLE db dir and
      // nothing else: a text/csv/binaryFile read rooted at the same
      // path counts different things entirely, and a file-restricting
      // read option (glob/recursive/modified-time) scans a SUBSET the
      // full-table sidecar must not answer for
      case fs: HadoopFsRelation
          if fs.location.rootPaths.length == 1 &&
            fs.fileFormat.isInstanceOf[
              org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat] &&
            !Seq("pathglobfilter", "recursivefilelookup", "modifiedafter",
              "modifiedbefore").exists(k =>
              fs.options.exists(_._1.toLowerCase(java.util.Locale.ROOT) == k)) =>
        Some(fs.location.rootPaths.head.toString)
      case _ => None
    }
    case _ => None
  }

  private def rewrite(agg: Aggregate, aggExprs: Seq[NamedExpression],
      info: TrailInfo): Option[LogicalPlan] = {
    if (info.numEvents == 0L) return None
    val values = aggExprs.map(answer(_, info))
    if (values.exists(_.isEmpty)) None
    else Some(LocalRelation(agg.output,
      Seq(InternalRow.fromSeq(values.map(_.get)))))
  }

  /** The sidecar answer for one output expression, or None if this
    * aggregate cannot be answered from metadata. */
  private def answer(ne: NamedExpression, info: TrailInfo): Option[Any] = {
    val expr = ne match {
      case Alias(child, _) => child
      case other => other
    }
    // min/max(time) only when the sidecar PROVES a non-null time exists —
    // the sidecar stores 0 for the all-null case, where SQL answers NULL.
    // (Pre-round-4 sidecars lack num_timed → -1 → never rewritten.)
    val timeProvable = info.numTimed > 0L
    expr match {
      case AggregateExpression(Count(Seq(Literal(v, _))), _, false, None, _)
          if v != null => // count(NULL literal) is 0, not num_events
        Some(info.numEvents)
      case AggregateExpression(Count(Seq(a: Attribute)), _, true, None, _)
          if a.name == TrailSchema.UuidCol =>
        Some(info.numTrails)
      case AggregateExpression(Min(a: Attribute), _, false, None, _)
          if a.name == TrailSchema.TimeCol && a.dataType == LongType &&
            timeProvable =>
        Some(info.minTime)
      case AggregateExpression(Max(a: Attribute), _, false, None, _)
          if a.name == TrailSchema.TimeCol && a.dataType == LongType &&
            timeProvable =>
        Some(info.maxTime)
      case _ => None
    }
  }
}

object MetadataOnlyAggRule {
  /** Parsed sidecars are cached keyed by the sidecar file's
    * (modificationTime, length), so the cost on the optimizer hot path is
    * one driver-side getFileStatus instead of a read+parse — and a
    * RE-finalize to the same path (finalizeTo is SaveMode.Overwrite) is
    * picked up instead of served stale. A MISS is never cached: finalize
    * itself aggregates over the freshly-written parquet BEFORE the
    * sidecar lands (TrailInfo.compute), so negative caching would
    * permanently blind the rule to every db finalized in this JVM. */
  private val cache = TrieMap.empty[String, (Long, Long, TrailInfo)]

  private def infoFor(spark: SparkSession, root: String): Option[TrailInfo] = {
    try {
      val path = new org.apache.hadoop.fs.Path(root, TrailInfo.FileName)
      val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (!fs.exists(path)) None
      else {
        val st = fs.getFileStatus(path)
        cache.get(root) match {
          case Some((mt, len, info))
              if mt == st.getModificationTime && len == st.getLen =>
            Some(info)
          case _ =>
            val r = TrailInfo.read(spark, root)
            r.foreach(i =>
              cache.put(root, (st.getModificationTime, st.getLen, i)))
            r
        }
      }
    } catch {
      case _: Exception => None // unreadable FS → fall through to the scan
    }
  }

  /** Idempotently add the rule to a session built without
    * `GraftExtensions` — `experimental.extraOptimizations` is the public
    * escape hatch. */
  def registerWith(spark: SparkSession): Unit = {
    val cur = spark.experimental.extraOptimizations
    if (!cur.exists(_.isInstanceOf[MetadataOnlyAggRule]))
      spark.experimental.extraOptimizations = cur :+ MetadataOnlyAggRule(spark)
  }
}
