package graft.plans

import graft.tile.{LevelRange, Tile, TileConfig}
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.MultiInstanceRelation
import org.apache.spark.sql.catalyst.expressions.{
  Alias,
  And,
  Attribute,
  AttributeMap,
  AttributeReference,
  EqualTo,
  Expression,
  GreaterThanOrEqual,
  IsNotNull,
  LessThanOrEqual,
  Literal,
  NamedExpression,
  Or,
  PredicateHelper
}
import org.apache.spark.sql.catalyst.expressions.codegen.UnsafeRowWriter
import org.apache.spark.sql.catalyst.plans.{Inner, LeftSemi}
import org.apache.spark.sql.catalyst.plans.logical.{Filter, Join, LeafNode, LogicalPlan, Project, Statistics}
import org.apache.spark.sql.catalyst.plans.logical.statsEstimation.EstimationUtils
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.catalyst.trees.TreePattern.JOIN
import org.apache.spark.sql.execution.{LeafExecNode, SparkPlan, SparkStrategy}
import org.apache.spark.sql.execution.metric.{SQLMetric, SQLMetrics}
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types.IntegerType

/** The (level, row, col) candidate grid of a [[TileConfig]] as a leaf
  * plan node: per level the rectangle [[Tile.ranges]] gives, cells in
  * (level, row, col) order. Being a node rather than a generated frame is
  * what lets [[TileGridJoinRule]] recognise a join with it.
  *
  * The ranges are computed when the node is built, so a grid whose bounds
  * leave `Int` fails there, naming the level. Statistics are exact: the
  * cell count, at the row size of three non-null ints.
  */
case class TileGrid(cfg: TileConfig, output: Seq[Attribute]) extends LeafNode with MultiInstanceRelation {

  val ranges: IndexedSeq[LevelRange] = Tile.ranges(cfg)

  /** Index of each level's first cell in grid order, then the cell count. */
  val offsets: Array[Long] = ranges.scanLeft(0L)((n, r) => Math.addExact(n, r.cells)).toArray

  def cells: Long = offsets.last

  override def computeStats(): Statistics =
    Statistics(sizeInBytes = EstimationUtils.getSizePerRow(output) * cells, rowCount = Some(cells))

  override def newInstance(): TileGrid = copy(output = output.map(_.newInstance()))

  override def simpleString(maxFields: Int): String =
    s"TileGrid levels ${cfg.startLevel}-${cfg.endLevel}, $cells cells"
}

object TileGrid {
  def apply(cfg: TileConfig): TileGrid =
    TileGrid(cfg, Seq("level", "row", "col").map(AttributeReference(_, IntegerType, nullable = false)()))
}

/** Planner rule: TileGrid → TileGridExec (registered by `Tile.tileGrid`
  * through `spark.experimental.extraStrategies` for sessions without
  * `GraftExtensions`, and by `GraftExtensions` otherwise).
  */
object TileGridStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case g: TileGrid => TileGridExec(g) :: Nil
    case _ => Nil
  }
}

/** Leaf exec in the style of `RangeExec`: the global cell index
  * `[0, cells)` is cut into one equal slice per leaf-node task slot, and
  * each task decodes its slice from the per-level offsets. One stage, no
  * exchange; slices differ by at most one cell.
  */
case class TileGridExec(grid: TileGrid) extends LeafExecNode {

  override def output: Seq[Attribute] = grid.output

  override lazy val metrics: Map[String, SQLMetric] =
    Map("numOutputRows" -> SQLMetrics.createMetric(sparkContext, "number of output rows"))

  override protected def doExecute(): RDD[InternalRow] = {
    val ranges = grid.ranges.toArray
    val offsets = grid.offsets
    val total = BigInt(grid.cells)
    val slices = Bridge.leafNodeDefaultParallelism(session)
    val numOutputRows = longMetric("numOutputRows")
    sparkContext.parallelize(0 until slices, slices).mapPartitionsWithIndex { (i, _) =>
      val from = (total * i / slices).toLong
      val until = (total * (i + 1) / slices).toLong
      numOutputRows += until - from
      TileGridExec.decode(ranges, offsets, from, until)
    }
  }

  override def simpleString(maxFields: Int): String = s"TileGridExec ${grid.simpleString(maxFields)}"
}

object TileGridExec {

  /** The cells with grid indices `[from, until)`, in grid order, as one
    * reused unsafe row.
    */
  private[plans] def decode(
      ranges: Array[LevelRange],
      offsets: Array[Long],
      from: Long,
      until: Long): Iterator[InternalRow] =
    if (from >= until) Iterator.empty
    else
      new Iterator[InternalRow] {
        private val writer = new UnsafeRowWriter(3)
        // the level holding `from`: the last whose first index is <= from
        // (an empty level shares its first index with the next one)
        private var l = offsets.lastIndexWhere(_ <= from)
        private var r = (from - offsets(l)) / ranges(l).cols
        private var c = (from - offsets(l)) % ranges(l).cols
        private var left = until - from

        override def hasNext: Boolean = left > 0

        override def next(): InternalRow = {
          val lr = ranges(l)
          writer.reset()
          writer.write(0, lr.level)
          writer.write(1, (lr.startRow + r).toInt)
          writer.write(2, (lr.startCol + c).toInt)
          left -= 1
          c += 1
          if (c == lr.cols) {
            c = 0
            r += 1
            if (r == lr.rows) {
              r = 0
              l += 1
              while (l < ranges.length && ranges(l).cells == 0) l += 1
            }
          }
          writer.getRow
        }
      }
}

/** Optimizer rule (injected via [[graft.GraftExtensions]]): a join with a
  * [[TileGrid]] on all three keys is a range filter on the other side.
  *
  * Fires on an `Inner` join with the grid on either side, and on a
  * `LeftSemi` join with the grid on the right, when the condition equates
  * each grid attribute to an `IntegerType` attribute of the other side (no
  * cast) and every other conjunct references only the other side. The
  * grid may sit under `Filter`s; their conditions are rewritten onto the
  * matched attributes. The join becomes
  *
  * {{{ Project(join output, Filter(ranges ∧ other conjuncts ∧ grid filters, other side)) }}}
  *
  * where `ranges` has one `level = l AND row BETWEEN … AND col BETWEEN …`
  * disjunct per non-empty level, and each grid attribute is re-bound as an
  * alias of its matched attribute under the grid attribute's exprId. That
  * is exact because grid keys are unique and non-null: each row of the
  * other side matches at most one cell, whose columns equal its keys.
  * Outer, anti and partial-key joins are left alone.
  *
  * So the grid is never built, broadcast or shuffled, and the `tilecache`
  * connector receives the ranges as a pushed filter and lists only the
  * grid's level directories.
  */
object TileGridJoinRule extends Rule[LogicalPlan] with PredicateHelper {

  override def apply(plan: LogicalPlan): LogicalPlan =
    plan.transformUpWithPruning(_.containsPattern(JOIN)) {
      case j @ Join(l, r, Inner, Some(cond), _) =>
        rewrite(j, l, r, cond).orElse(rewrite(j, r, l, cond)).getOrElse(j)
      case j @ Join(l, r, LeftSemi, Some(cond), _) =>
        rewrite(j, l, r, cond).getOrElse(j)
    }

  /** The grid under `p`'s filters, with their conditions. */
  private def gridUnder(p: LogicalPlan): Option[(TileGrid, Seq[Expression])] = p match {
    case g: TileGrid => Some((g, Nil))
    case Filter(c, child) if c.deterministic => gridUnder(child).map { case (g, cs) => (g, c +: cs) }
    case _ => None
  }

  private def rewrite(join: Join, other: LogicalPlan, gridSide: LogicalPlan, cond: Expression): Option[LogicalPlan] =
    gridUnder(gridSide).flatMap { case (grid, gridConds) =>
      val gridAttrs = grid.outputSet
      def key(e: Expression): Option[(Attribute, Attribute)] = e match {
        case EqualTo(a: Attribute, b: Attribute) if gridAttrs.contains(a) && isOther(b) => Some(a -> b)
        case EqualTo(b: Attribute, a: Attribute) if gridAttrs.contains(a) && isOther(b) => Some(a -> b)
        case _ => None
      }
      def isOther(b: Attribute): Boolean = b.dataType == IntegerType && other.outputSet.contains(b)
      val conjuncts = splitConjunctivePredicates(cond)
      val keys = conjuncts.flatMap(key)
      val rest = conjuncts.filter(key(_).isEmpty)
      val matched = AttributeMap(keys)
      if (keys.length != 3 || matched.size != 3 || !rest.forall(_.references.subsetOf(other.outputSet))) None
      else {
        val Seq(level, row, col) = grid.output.map(matched(_))
        val onKeys = gridConds.map(_.transform { case a: Attribute if matched.contains(a) => matched(a) })
        val notNull = Seq(level, row, col).filter(_.nullable).map(IsNotNull(_))
        val filter = Filter((notNull ++ (rangeCondition(grid.ranges, level, row, col) +: rest) ++ onKeys).reduce(And), other)
        if (join.output == other.output) Some(filter)
        else
          Some(Project(
            join.output.map(a => matched.get(a).fold[NamedExpression](a)(k => Alias(k, a.name)(a.exprId, a.qualifier))),
            filter))
      }
    }

  /** One `level = l AND row BETWEEN … AND col BETWEEN …` disjunct per
    * non-empty level; `false` for an empty grid.
    */
  private def rangeCondition(levels: Seq[LevelRange], level: Expression, row: Expression, col: Expression): Expression = {
    def between(e: Expression, lo: Int, hi: Int) =
      And(GreaterThanOrEqual(e, Literal(lo)), LessThanOrEqual(e, Literal(hi)))
    levels
      .filter(_.cells > 0)
      .map(r =>
        And(EqualTo(level, Literal(r.level)), And(between(row, r.startRow, r.endRow), between(col, r.startCol, r.endCol))))
      .reduceOption[Expression](Or)
      .getOrElse(Literal.FalseLiteral)
  }
}
