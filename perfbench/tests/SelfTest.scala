package graft.perfbench

/** The benchmark's own tests: the percentile rule, the plan generator and
  * the catalog generator's closure oracle. No Spark session is started.
  *
  * Run: python3 perfbench/run.py --selftest
  */
object SelfTest {
  private var failures = 0
  private var checks = 0

  private def check(what: String)(ok: => Boolean): Unit = {
    checks += 1
    val passed = try ok catch { case e: Throwable => println(s"  error: $e"); false }
    if (!passed) { failures += 1; println(s"FAIL $what") }
  }

  def percentileRule(): Unit = {
    check("nearest-rank median of 1..10 is 5")(Stats.median((1 to 10).map(_.toDouble)) == 5.0)
    check("p90 of 1..100 is 90")(Stats.percentile((1 to 100).map(_.toDouble), 90) == 90.0)
    check("p90 leaves exactly 10 of 100 beyond")(Stats.beyond(90, 100) == 10)
    check("19 samples support no percentile")(Stats.tailPercentile(19).isEmpty)
    check("20 samples support the median only")(Stats.tailPercentile(20).contains(50.0))
    check("40 samples support p75")(Stats.tailPercentile(40).contains(75.0))
    check("99 samples fall short of p90")(Stats.tailPercentile(99).contains(75.0))
    check("100 samples support p90")(Stats.tailPercentile(100).contains(90.0))
    check("1000 samples support p99")(Stats.tailPercentile(1000).contains(99.0))
    check("the chosen percentile always has 10 beyond")((20 to 3000).forall(n =>
      Stats.tailPercentile(n).forall(p => Stats.beyond(p, n) >= Stats.MinBeyond)))
  }

  def planGenerator(): Unit = {
    val a = PlanGen.plans(42L, 24)
    val b = PlanGen.plans(42L, 24)
    check("same seed, same plans")(a == b)
    check("same seed, same ground truth")(a.map(_.expected) == b.map(_.expected))
    check("another seed, other plans")(PlanGen.plans(43L, 24) != a)
    val shapes = PlanGen.shapes(PlanGen.PassSize)
    check("widths within 10..400")(shapes.forall(s => s.width >= 10 && s.width <= 400))
    check("layers within 1..MaxLayers")(shapes.forall(s => s.layers >= 1 && s.layers <= PlanGen.MaxLayers))
    check("every lineage walk within its budget")(shapes.forall(s => PlanGen.walkCost(s) <= PlanGen.CostCap))
    check("every plan as deep as its budget allows")(shapes.forall(s => s.layers == PlanGen.MaxLayers ||
      PlanGen.walkCost(s.copy(layers = s.layers + 1)) > PlanGen.CostCap))
    check("joins, unions and chains go to the narrowest plans")(
      shapes.sortBy(_.width).sliding(2).forall { case Seq(a, b) =>
        a.joins >= b.joins && a.unions >= b.unions && a.chain >= b.chain })
    check("joins within 0..3")(shapes.forall(s => s.joins >= 0 && s.joins <= 3))
    check("unions within 0..4")(shapes.forall(s => s.unions >= 0 && s.unions <= 4))
    check("chains within 0..50")(shapes.forall(s => s.chain >= 0 && s.chain <= 50))
    check("a pass reaches a 300+ column plan")(shapes.exists(_.width >= 300))
    check("a pass has a 3-join plan")(shapes.exists(_.joins == 3))
    check("a pass has a 4-union plan")(shapes.exists(_.unions == 4))
    check("a pass has a chain of 45+ steps")(shapes.exists(_.chain >= 45))
    check("every seed runs the same shapes")(
      PlanGen.plans(5L, PlanGen.PassSize).map(_.shape).sortBy(_.toString) ==
        PlanGen.plans(6L, PlanGen.PassSize).map(_.shape).sortBy(_.toString))

    // a hand-written plan whose lineage is worked out below
    import PlanGen._
    val plan = Plan(0, Shape(2, 1, 1, 1, 1), 2, Seq(
      JoinStep(1, 1),                                   // t0_k t0_c0 t0_c1 t1_k t1_c0
      UnionStep(IndexedSeq(0, 2, 1, 3, 4)),             // swaps t0_c0 and t0_c1
      LayerStep(1, IndexedSeq((1, 4), (0, 3))),         // l1_0 l1_1
      ChainStep(0, 0, 1)))                              // w0
    check("hand-written plan lineage")(plan.expected == Seq(
      "l1_0" -> Set("local.t0_c0", "local.t0_c1", "local.t1_c0"),
      "l1_1" -> Set("local.t0_k", "local.t1_k"),
      "w0" -> Set("local.t0_c0", "local.t0_c1", "local.t1_c0", "local.t0_k", "local.t1_k")))
  }

  def catalogOracle(): Unit = {
    val edges = Set("a" -> "b", "b" -> "c", "a" -> "c", "c" -> "d", "d" -> "b", "x" -> "y")
    check("min-hop closure with a cycle")(
      CatalogGen.closure(edges, Seq("a")) == Map("a" -> 0, "b" -> 1, "c" -> 1, "d" -> 2))
    check("a root with no edges is its own closure")(
      CatalogGen.closure(edges, Seq("z")) == Map("z" -> 0))
    check("multi-root closure")(
      CatalogGen.closure(edges, Seq("d", "x")) == Map("d" -> 0, "x" -> 0, "b" -> 1, "y" -> 1, "c" -> 2))

    val cat = CatalogGen.generate(7L)
    check("same seed, same catalog")(CatalogGen.generate(7L).records == cat.records)
    val ok = cat.records.filter(_.status == "success")
    val recordEdges = ok.flatMap(r => r.inputs.map(i => (i.name, r.output.get.name))).toSet
    check("oracle edges are the successful records' edges")(recordEdges == cat.edges)
    check("the catalog holds failed runs")(cat.records.exists(_.status == "failure"))
    check("closures stop within the level count")(cat.datasets.forall(d =>
      CatalogGen.closure(cat.edges, Seq(d.name)).values.max < 4))
    val colEdges = ok.flatMap(r => r.columnLineage.flatMap(m =>
      m.sources.map(s => (s, s"${r.output.get.name}.${m.output}")))).toSet
    check("oracle column edges are the records' column edges")(colEdges == cat.columnEdges)
  }

  def main(args: Array[String]): Unit = {
    percentileRule()
    planGenerator()
    catalogOracle()
    println(s"perfbench selftest: ${checks - failures}/$checks checks passed")
    sys.exit(if (failures == 0) 0 else 1)
  }
}
