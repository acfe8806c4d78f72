package graft.plans

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Alias, AttributeReference,
  Cast, Expression, Literal, NamedExpression}
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression,
  Count, Max, Min, Sum}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, LogicalPlan,
  Project}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions.{col, count, lit, max, min, sum}

/** Transparent materialized-view rewrite — the warehouse feature that
  * makes MVs USEFUL rather than just correct: q175 maintains an
  * aggregate incrementally, but a user still has to know it exists and
  * query it by name. This pair (registry + optimizer rule) closes that
  * gap: a query written against the BASE table is rewritten by
  * Catalyst to scan the MV when the MV can answer it — same rows, the
  * 100-TB fact scan replaced by a |groups|-row read.
  *
  * The construction every engine with MV rewrite uses (Oracle query
  * rewrite, BigQuery/Snowflake MVs, Calcite's rules):
  *
  *  - [[MvCatalog.register]] materializes re-aggregable PARTIALS —
  *    `cnt` plus `sum_/min_/max_<measure>` per measure — keyed by the
  *    view's group columns, and records the source's CANONICALIZED
  *    logical plan as the match signature (exprId-normalized, so any
  *    structurally identical read of the base table matches).
  *  - [[MvRewrite]] matches `Aggregate(G, A, source)` where G is a
  *    SUBSET of the view keys (coarser grains re-aggregate: the (a,b)
  *    view answers GROUP BY a — partials are what make this sound) and
  *    every output of A is a view key or a derivable aggregate:
  *    SUM(x) → SUM(sum_x), COUNT(*) → SUM(cnt), MIN(x) → MIN(min_x),
  *    MAX(x) → MAX(max_x). DISTINCT aggregates, FILTER clauses, AVG,
  *    and expression-valued arguments do NOT rewrite (AVG deliberately:
  *    SUM/COUNT re-derivation changes the float summation ORDER, and
  *    this engine's oracles are bit-exact — the user can spell
  *    sum/count explicitly and get the rewrite with exact semantics).
  *  - The replacement plan is built with the public DataFrame API
  *    against the MV parquet (analyzed, so resolution is the engine's
  *    own), then bridged under a Project that re-aliases its output to
  *    the ORIGINAL Aggregate's exprIds and types — parents of the
  *    rewritten node keep resolving, which is the whole trick of
  *    splicing a foreign plan into an optimizer tree.
  *
  * Correctness containment: rewrite fires only on an EXACT canonical
  * match of the source subtree (a filtered/projected variant won't
  * match — stale-view hazards need the q175 refresh discipline, not a
  * looser matcher), and MvRewriteSpec pins rows ≡ the rule-off
  * recompute at both grains plus the non-derivable fallbacks.
  */
object MvCatalog {
  final case class MvDef(name: String, path: String,
      sourceCanonicals: Set[LogicalPlan], keys: Seq[String],
      measures: Seq[String])

  private val views =
    new java.util.concurrent.ConcurrentHashMap[String, MvDef]()

  /** Materialize `source.groupBy(keys)` partials at `dir` and register
    * the view for rewrite. Measures must be numeric columns of source.
    */
  def register(name: String, source: DataFrame, keys: Seq[String],
      measures: Seq[String], dir: String): MvDef = {
    require(keys.nonEmpty && measures.nonEmpty)
    source.groupBy(keys.map(col): _*)
      .agg(count(lit(1)).as("cnt"), partialCols(measures): _*)
      .write.mode("overwrite").parquet(dir)
    registerSignature(name, source, keys, measures, dir)
  }

  private def partialCols(measures: Seq[String]) =
    measures.flatMap(m => Seq(
      sum(col(m)).as(s"sum_$m"), min(col(m)).as(s"min_$m"),
      max(col(m)).as(s"max_$m")))

  /** Record (or replace) the match signature for an ALREADY
    * materialized MV at `dir` — the refresh path's tail, where the
    * data was just rewritten incrementally and re-deriving it whole
    * would defeat the point.
    */
  private def registerSignature(name: String, source: DataFrame,
      keys: Seq[String], measures: Seq[String], dir: String): MvDef = {
    // the match signature: analyzed + fully-optimized canonical forms
    // of the source AND of every column-subset projection of it. The
    // rule runs inside the operator-optimization fixed point, where
    // the query's source subtree has been project-collapsed AND
    // column-pruned to exactly the columns the aggregate touches — a
    // rollup (GROUP BY a over the (a,b) view) arrives with b pruned
    // away, so the pruned variants are what coarser grains match. The
    // subset count is 2^|cols|−1, bounded by the column cap below
    // (an MV source is keys+measures, not a wide table).
    require(source.columns.length <= 10,
      s"MV source has ${source.columns.length} columns; cap is 10 " +
        "(the subset signature is exponential in columns)")
    val canonicals = (1 to source.columns.length).flatMap(
      source.columns.toSeq.combinations(_)).flatMap { ss =>
        val v = source.select(ss.map(col): _*)
        Seq(v.queryExecution.analyzed.canonicalized,
          v.queryExecution.optimizedPlan.canonicalized)
      }.toSet
    val d = MvDef(name, dir, canonicals, keys, measures)
    views.put(name, d)
    d
  }

  def unregister(name: String): Unit = { views.remove(name); () }

  /** Register an MV over a [[graft.sources.ManifestedTable]] — the
    * pairing [[refreshFromTable]] needs: the table's versioned
    * manifests are what make the refresh incremental.
    */
  def registerOnTable(name: String, spark: SparkSession, tableDir: String,
      keys: Seq[String], measures: Seq[String], mvDir: String): MvDef =
    register(name, graft.sources.ManifestedTable.read(spark, tableDir),
      keys, measures, mvDir)

  /** INCREMENTAL refresh off the table's change feed, closing the MV
    * lifecycle loop (register → rewrite → REFRESH → rewrite serves the
    * new data): groups untouched by the fromV→toV CDF pass through the
    * old MV AS DATA (append-only reasoning — their rows didn't change,
    * so no partial changed); touched groups RECOMPUTE from the new
    * snapshot restricted to them by a semi join. The touched-group
    * recompute — rather than q175's add/subtract delta — is what keeps
    * the NON-ADDITIVE partials honest: +/− maintains cnt and sum_, but
    * a delete can raise a MIN, and no arithmetic on (min, removed-row)
    * recovers it — the touched slice must re-derive. Fully-deleted
    * groups are touched and recompute to NO row, so they VANISH (the
    * q175 drop-to-zero branch, for free). Scale: the CDF reads only
    * changed files (T72), the untouched side is |groups| rows, and the
    * recompute's semi join prunes the snapshot scan to touched keys
    * (composable with key-clustered layout + stats skipping). The MV
    * parquet is rewritten whole — it is |groups| rows by construction.
    * Re-registers the match signature against the NEW snapshot's read,
    * so the rewrite immediately serves post-refresh queries.
    */
  def refreshFromTable(name: String, spark: SparkSession, tableDir: String,
      fromV: Long, toV: Long): MvDef = {
    val old = views.get(name)
    require(old != null, s"no registered MV named $name")
    import graft.sources.ManifestedTable
    val keyCols = old.keys.map(col)
    val (added, removed) =
      ManifestedTable.changesBetween(spark, tableDir, fromV, toV)
    val touched = added.select(keyCols: _*)
      .unionByName(removed.select(keyCols: _*)).distinct()
    val mvOld = spark.read.parquet(old.path)
    val untouched = mvOld.join(touched, old.keys, "left_anti")
    val snapshot = ManifestedTable.read(spark, tableDir)
    val recomputed = snapshot.join(touched, old.keys, "left_semi")
      .groupBy(keyCols: _*)
      .agg(count(lit(1)).as("cnt"), partialCols(old.measures): _*)
    // pin the new rows off the old MV's lineage before overwriting it
    val newMv = untouched.unionByName(
      recomputed.select(mvOld.columns.map(col).toIndexedSeq: _*))
      .localCheckpoint(true)
    newMv.write.mode("overwrite").parquet(old.path)
    registerSignature(name, snapshot, old.keys, old.measures, old.path)
  }

  /** Whether `df`'s physical plan reads `dir` through a file scan —
    * the proof that a rewrite served the MV stored there. It reads the
    * scans' root paths off the plan tree (through AQE and subqueries),
    * never the plan string: Spark abbreviates long paths in plan
    * strings (`spark.sql.maxMetadataStringLength`), so a string check
    * fails whenever the directory is deep.
    */
  def scansDir(df: DataFrame, dir: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(dir)
    val want = p.getFileSystem(df.sparkSession.sessionState.newHadoopConf())
      .makeQualified(p)
    PlanWalk.collectWithSubqueries(df.queryExecution.executedPlan) {
      case f: FileSourceScanExec => f.relation.location.rootPaths
    }.flatten.contains(want)
  }

  private object PlanWalk extends AdaptiveSparkPlanHelper

  private[plans] def find(child: LogicalPlan): Option[MvDef] = {
    if (views.isEmpty) return None
    val c = child.canonicalized
    import scala.jdk.CollectionConverters._
    views.values().asScala.find(_.sourceCanonicals.contains(c))
  }
}

object MvRewrite extends Rule[LogicalPlan] {

  import org.apache.spark.sql.types.{ByteType, DataType, DecimalType,
    IntegerType, LongType, ShortType}

  private def exactNumeric(dt: DataType): Boolean = dt match {
    case ByteType | ShortType | IntegerType | LongType => true
    case _: DecimalType => true
    case _ => false
  }

  /** One query output → its spelling over the MV partials, or None if
    * not derivable (which vetoes the whole rewrite).
    */
  private def derive(e: NamedExpression, groupNames: Set[String],
      mv: MvCatalog.MvDef): Option[org.apache.spark.sql.Column] = e match {
    case a: AttributeReference
        if groupNames.contains(a.name) && mv.keys.contains(a.name) =>
      Some(col(a.name))
    case Alias(AggregateExpression(f, _, false, None, _), name) => f match {
      // SUM rewrites only for EXACT numeric measures: sum-of-partial-
      // sums reorders IEEE addition, so a float/double measure through
      // the MV could differ in the last bit from the direct aggregate —
      // the same hazard that excludes AVG. Integral/decimal sums are
      // associative exactly, so only they re-derive.
      case Sum(x: AttributeReference, _) if mv.measures.contains(x.name) &&
          exactNumeric(x.dataType) =>
        Some(sum(col(s"sum_${x.name}")).as(name))
      case Min(x: AttributeReference) if mv.measures.contains(x.name) =>
        Some(min(col(s"min_${x.name}")).as(name))
      case Max(x: AttributeReference) if mv.measures.contains(x.name) =>
        Some(max(col(s"max_${x.name}")).as(name))
      case Count(Seq(Literal(_, _))) =>
        Some(sum(col("cnt")).as(name))
      case _ => None
    }
    case _ => None
  }

  // `groupExprs.nonEmpty`: a GLOBAL aggregate does not rewrite —
  // COUNT(*) over an empty base is 0, but sum(cnt) over the (empty) MV
  // would be NULL; declining the empty-GROUP-BY shape keeps the
  // rewrite row-identical on every input, including the empty table
  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformUp {
    case agg @ Aggregate(groupExprs, aggExprs, child, _)
        if groupExprs.nonEmpty &&
          groupExprs.forall(_.isInstanceOf[AttributeReference]) =>
      MvCatalog.find(child) match {
        case Some(mv) =>
          val groupNames =
            groupExprs.map(_.asInstanceOf[AttributeReference].name)
          if (!groupNames.forall(mv.keys.contains)) agg
          else {
            val derived = aggExprs.map(derive(_, groupNames.toSet, mv))
            if (derived.exists(_.isEmpty)) agg
            else {
              val spark = SparkSession.active
              val mvDf = spark.read.parquet(mv.path)
              val aggCols = derived.map(_.get).zip(aggExprs)
                .filterNot { case (_, a) => a.isInstanceOf[AttributeReference] }
              // a grouped query always has ≥1 agg output here? No — a
              // pure GROUP BY projection (keys only) re-aggregates as
              // DISTINCT keys; count(cnt) is dropped by the bridge
              val rewritten =
                if (aggCols.isEmpty)
                  mvDf.groupBy(groupNames.map(col): _*)
                    .agg(count(lit(1)).as("__drop"))
                    .select(groupNames.map(col): _*)
                else
                  mvDf.groupBy(groupNames.map(col): _*)
                    .agg(aggCols.head._1, aggCols.tail.map(_._1): _*)
                    .select(aggExprs.map(a => col(a.name)).toSeq: _*)
              val newPlan = rewritten.queryExecution.analyzed
              // bridge: re-alias the MV plan's output to the ORIGINAL
              // aggregate's exprIds/types so every parent still resolves
              val bridge = agg.output.zip(newPlan.output).map {
                case (orig, fresh) =>
                  val e: Expression =
                    if (fresh.dataType == orig.dataType) fresh
                    else Cast(fresh, orig.dataType)
                  Alias(e, orig.name)(exprId = orig.exprId,
                    qualifier = orig.qualifier)
              }
              Project(bridge, newPlan)
            }
          }
        case None => agg
      }
  }
}
