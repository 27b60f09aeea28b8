package graft.perfbench

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{DoubleType, StructField, StructType}

/** Seed-generated wide plans for the `lineage_wide` workload, with the
  * column lineage each output column must report.
  *
  * A plan is built in a fixed order over tiny in-memory tables: a base
  * table of `width` columns, `unions` positional self-unions of it whose
  * second branch permutes the columns, `joins` joined side tables,
  * `layers` stacked projections in which every column adds two columns of
  * the layer below, and a `withColumn` chain of `chain` steps, each adding
  * two columns of the last layer. The unions sit on the base table, below
  * the joins and the projections, so they multiply the lineage walk but
  * not the plan Catalyst optimizes above them. Each step updates the ground-truth source set of every column, so the
  * expected lineage never depends on the extractor under test.
  *
  * The workload is built so that record building outlasts the action:
  * records queue on the listener bus, and the time to deliver all of them
  * is set by the lineage path. The shapes of a pass are a fixed design in
  * which width (10-400, log-spaced), joins (0-3), unions (0-4) and chain
  * length (0-50) each take the centre of each of their n strata once.
  * Joins, unions and chain steps cost Catalyst far more than the lineage
  * walk, and more the wider the plan, so they go to the narrowest plans,
  * whose actions are cheap; union levels are dropped until width *
  * 2^unions is at most [[UnionCap]]. Depth is not drawn: each plan gets
  * the most layers whose lineage walk stays within [[CostCap]], so every
  * record costs about the same to build whatever the width, and no plan
  * takes most of a pass. The run seed draws the order of the plans and
  * their wiring (the columns each layer and chain step reads, the union
  * permutations, the side table widths).
  */
object PlanGen {
  val Rows = 8
  /** Budget of one plan's lineage walk, in [[walkCost]] units. */
  val CostCap: Double = 1.8e7
  val UnionCap = 200
  val MaxLayers = 16

  final case class Shape(width: Int, layers: Int, joins: Int, unions: Int, chain: Int)

  sealed trait Step
  /** Join side table `table` (columns `cols`) on the two key columns. */
  final case class JoinStep(table: Int, cols: Int) extends Step
  /** A new layer: output i = column a + column b of the layer below. */
  final case class LayerStep(level: Int, refs: IndexedSeq[(Int, Int)]) extends Step
  /** One `withColumn`: a new column 2 * a + b. */
  final case class ChainStep(index: Int, a: Int, b: Int) extends Step
  /** Positional union with a copy whose column i is column perm(i). */
  final case class UnionStep(perm: IndexedSeq[Int]) extends Step

  final case class Plan(id: Int, shape: Shape, baseWidth: Int, steps: Seq[Step]) {
    /** Output column name -> expected lineage sources ("local.<column>"). */
    lazy val expected: Seq[(String, Set[String])] = {
      var names = baseColumns(0, baseWidth)
      var srcs = names.map(n => Set(s"local.$n"))
      steps.foreach {
        case JoinStep(t, k) =>
          val add = baseColumns(t, k)
          names = names ++ add
          srcs = srcs ++ add.map(n => Set(s"local.$n"))
        case LayerStep(level, refs) =>
          names = refs.indices.map(i => s"l${level}_$i")
          srcs = refs.map { case (a, b) => srcs(a) ++ srcs(b) }
        case ChainStep(i, a, b) =>
          names = names :+ s"w$i"
          srcs = srcs :+ (srcs(a) ++ srcs(b))
        case UnionStep(perm) =>
          srcs = perm.indices.map(i => srcs(i) ++ srcs(perm(i)))
      }
      names.zip(srcs)
    }
  }

  /** Columns of base table t: the key first, then `width` value columns. */
  def baseColumns(t: Int, width: Int): IndexedSeq[String] =
    s"t${t}_k" +: (0 until width).map(i => s"t${t}_c$i")

  /** Size of the unmemoized column-lineage walk: (width + 2 * chain)
    * output paths of 2^(layers+unions) steps each, a step costing about as
    * much as searching a projection list of width + 20 columns. */
  def walkCost(s: Shape): Double =
    (s.width + 2.0 * s.chain) * math.pow(2, s.layers + s.unions) * (s.width + 20)

  /** Plans per pass: ten, so a pass of actions takes about ten seconds on
    * four cores and the delivery of its records about twice that. */
  val PassSize = 10

  /** The `n` stratified shapes of one pass, narrowest first. */
  def shapes(n: Int): IndexedSeq[Shape] = (0 until n).map { i =>
    def stratum(j: Int) = (j + 0.5) / n
    val width = math.round(10 * math.pow(40, stratum(i))).toInt
    val u = stratum(n - 1 - i)
    var unions = (u * 5).toInt
    while (width << unions > UnionCap && unions > 0) unions -= 1
    var s = Shape(width, 1, (u * 4).toInt, unions, (u * 51).toInt)
    while (s.layers < MaxLayers && walkCost(s.copy(layers = s.layers + 1)) <= CostCap)
      s = s.copy(layers = s.layers + 1)
    s
  }

  /** The plans of one pass. Plan ids continue across passes so every
    * action of a run has its own plan. */
  def plans(seed: Long, n: Int, firstId: Int = 0): IndexedSeq[Plan] = {
    val rnd = new scala.util.Random(seed)
    rnd.shuffle(shapes(n)).zipWithIndex.map { case (s, i) =>
      val unions = Seq.fill(s.unions)(UnionStep(rnd.shuffle((0 to s.width).toIndexedSeq)))
      var cur = s.width + 1
      val joins = (1 to s.joins).map { t =>
        val k = 1 + rnd.nextInt(8)
        cur += k + 1
        JoinStep(t, k)
      }
      val layers = (1 to s.layers).map { level =>
        val prev = cur
        cur = s.width
        LayerStep(level, IndexedSeq.fill(s.width)((rnd.nextInt(prev), rnd.nextInt(prev))))
      }
      val chain = (0 until s.chain).map(j => ChainStep(j, rnd.nextInt(s.width), rnd.nextInt(s.width)))
      Plan(firstId + i, s, s.width, unions ++ joins ++ layers ++ chain)
    }
  }

  private def table(spark: SparkSession, t: Int, width: Int, salt: Int): DataFrame = {
    val names = baseColumns(t, width)
    val rows = (0 until Rows).map(r =>
      Row.fromSeq(names.indices.map(c => if (c == 0) (r % 4).toDouble else (r * 31 + c + salt) % 97 / 7.0)))
    spark.createDataFrame(
      java.util.Arrays.asList(rows: _*),
      StructType(names.map(StructField(_, DoubleType, nullable = false))))
  }

  /** The plan as a DataFrame; the caller runs one noop write on it. */
  def build(spark: SparkSession, plan: Plan): DataFrame = {
    var df = table(spark, 0, plan.baseWidth, plan.id)
    var names: IndexedSeq[String] = baseColumns(0, plan.baseWidth)
    plan.steps.foreach {
      case JoinStep(t, k) =>
        val side = table(spark, t, k, plan.id)
        df = df.join(side, df("t0_k") === side(s"t${t}_k"))
        names = names ++ baseColumns(t, k)
      case LayerStep(level, refs) =>
        val cols: Seq[Column] = refs.zipWithIndex.map { case ((a, b), i) =>
          (col(names(a)) + col(names(b))).as(s"l${level}_$i")
        }
        df = df.select(cols: _*)
        names = refs.indices.map(i => s"l${level}_$i")
      case ChainStep(i, a, b) =>
        df = df.withColumn(s"w$i", col(names(a)) * 2 + col(names(b)))
        names = names :+ s"w$i"
      case UnionStep(perm) =>
        df = df.union(df.select(perm.indices.map(i => col(names(perm(i))).as(names(i))): _*))
    }
    df
  }
}
