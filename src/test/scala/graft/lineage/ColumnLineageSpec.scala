package graft.lineage

import graft.SparkTestBase
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funspec.AnyFunSpec

/** Column-level lineage resolution through each plan shape SURVEY §2.1
  * names: Project, Aggregate, Window, Join, Union, Generate.
  */
class ColumnLineageSpec extends AnyFunSpec with SparkTestBase {

  private def lineage(df: DataFrame): Map[String, Set[String]] =
    ColumnLineage.forPlan(df.queryExecution.analyzed)
      .map(m => m.output -> m.sources.toSet).toMap

  private def li = spark.read.parquet(s"$sfDir/lineitem.parquet")
  private def ord = spark.read.parquet(s"$sfDir/orders.parquet")
  private def docs = spark.read.parquet(s"$sfDir/documents.parquet")

  describe("ColumnLineage") {

    it("resolves arithmetic projections to their source columns") {
      val lin = lineage(li.select(
        (col("l_extendedprice") * (lit(1) - col("l_discount"))).as("net")))
      assert(lin("net").map(_.split('.').last) == Set("l_extendedprice", "l_discount"))
      assert(lin("net").forall(_.contains("lineitem.parquet")))
    }

    it("resolves aggregates: keys and aggregate inputs") {
      val lin = lineage(li.groupBy("l_returnflag").agg(sum("l_quantity").as("q")))
      assert(lin("q").map(_.split('.').last) == Set("l_quantity"))
      assert(lin("l_returnflag").map(_.split('.').last) == Set("l_returnflag"))
    }

    it("resolves window expressions to partition/order inputs") {
      val w = Window.partitionBy("o_orderpriority").orderBy("o_totalprice")
      val lin = lineage(ord.select(col("o_orderkey"), row_number().over(w).as("rn")))
      assert(lin("rn").map(_.split('.').last) == Set("o_orderpriority", "o_totalprice"))
    }

    it("resolves across joins to the owning side") {
      val j = li.join(ord, col("l_orderkey") === col("o_orderkey"))
        .select(col("l_partkey"), col("o_custkey"))
      val lin = lineage(j)
      assert(lin("l_partkey").forall(_.contains("lineitem.parquet")))
      assert(lin("o_custkey").forall(_.contains("orders.parquet")))
    }

    it("merges sources across union branches") {
      val a = li.select(col("l_orderkey").as("k"))
      val b = ord.select(col("o_orderkey").as("k"))
      val lin = lineage(a.unionByName(b))
      assert(lin("k").exists(_.endsWith(".l_orderkey")))
      assert(lin("k").exists(_.endsWith(".o_orderkey")))
    }

    it("resolves generator output through explode") {
      val lin = lineage(docs.select(explode(split(col("text"), " ")).as("word")))
      assert(lin("word").map(_.split('.').last) == Set("text"))
    }

    it("resolves grouping keys through Expand (rollup/cube)") {
      val lin = lineage(li.rollup("l_returnflag", "l_linestatus")
        .agg(sum("l_extendedprice").as("sum_price")))
      assert(lin("l_returnflag").map(_.split('.').last) == Set("l_returnflag"))
      assert(lin("l_linestatus").map(_.split('.').last) == Set("l_linestatus"))
      assert(lin("sum_price").map(_.split('.').last) == Set("l_extendedprice"))
    }

    it("resolves columns computed from scalar subqueries") {
      ord.createOrReplaceTempView("cl_orders")
      li.createOrReplaceTempView("cl_lineitem")
      try {
        val df = spark.sql(
          """SELECT l_orderkey,
            |  l_quantity * (SELECT max(o_totalprice) FROM cl_orders) AS scaled
            |FROM cl_lineitem""".stripMargin)
        val lin = lineage(df)
        assert(lin("scaled").map(_.split('.').last) == Set("l_quantity", "o_totalprice"),
          s"got ${lin("scaled")}")
      } finally {
        spark.catalog.dropTempView("cl_orders")
        spark.catalog.dropTempView("cl_lineitem")
      }
    }

    it("resolves transitively through stacked operators") {
      val df = li
        .select(col("l_orderkey"), (col("l_extendedprice") * lit(2)).as("p2"))
        .groupBy("l_orderkey").agg(max("p2").as("m"))
        .select((col("m") + lit(1)).as("m1"))
      val lin = lineage(df)
      assert(lin("m1").map(_.split('.').last) == Set("l_extendedprice"))
    }

    it("carries the derivation expression through a rename+derivation chain") {
      // derived -> renamed -> renamed again: the expression must survive
      // the renames (reported from where it was WRITTEN), identity
      // reads/renames must report none
      val df = li
        .select(col("l_orderkey"),
          (col("l_extendedprice") * (lit(1) - col("l_discount"))).as("net"))
        .withColumnRenamed("net", "net2")
        .select(col("l_orderkey").as("okey"), col("net2").as("net_final"))
      val byOut = ColumnLineage.forPlan(df.queryExecution.analyzed)
        .map(m => m.output -> m).toMap
      val netExpr = byOut("net_final").expression
      assert(netExpr.isDefined, "derivation lost through the rename chain")
      assert(netExpr.get.contains("l_extendedprice") &&
        netExpr.get.contains("l_discount"), s"got $netExpr")
      assert(byOut("okey").expression.isEmpty,
        s"pure rename must be identity: ${byOut("okey").expression}")
      // an aggregate's expression names the aggregate function
      val agg = li.groupBy("l_returnflag").agg(sum("l_quantity").as("q"))
        .withColumnRenamed("q", "total_qty")
      val aggBy = ColumnLineage.forPlan(agg.queryExecution.analyzed)
        .map(m => m.output -> m).toMap
      assert(aggBy("total_qty").expression.exists(_.toLowerCase.contains("sum")),
        s"got ${aggBy("total_qty").expression}")
      assert(aggBy("l_returnflag").expression.isEmpty)
      // and the OpenLineage facet renders both transformation slots
      val rec = LineageRecord("app", "an", "u", "save", "success", None, 1L, 2L,
        Seq(InputEntity("path", "in", Some("parquet"), Seq("l_extendedprice"))),
        Some(OutputEntity("path", "out", Some("parquet"), Some("overwrite"))),
        agg.columns.toSeq, ColumnLineage.forPlan(agg.queryExecution.analyzed),
        "fp", Some(1L))
      val json = OpenLineage.toRunEvent(rec)
      assert(json.contains("\"transformationType\":\"EXPRESSION\""), json)
      assert(json.contains("\"transformationType\":\"IDENTITY\""), json)
      assert(json.contains("transformationDescription"), json)
    }

    it("flows through the custom TopKPerKey logical node (pass-through outputs)") {
      // the custom whole-operator node preserves child output attributes,
      // so lineage must resolve THROUGH it like any pass-through node —
      // the integration contract between the §2.8 operator path and §2.1
      val df = graft.plans.TopK.perKey(ord,
          col("o_orderpriority"), col("o_totalprice"), col("o_orderkey"), 3)
        .select(col("o_orderkey"), (col("o_totalprice") * lit(2)).as("dbl"))
      val lin = lineage(df)
      assert(lin("dbl").map(_.split('.').last) == Set("o_totalprice"))
      assert(lin("dbl").forall(_.contains("orders.parquet")))
      assert(lin("o_orderkey").map(_.split('.').last) == Set("o_orderkey"))
    }

    it("merges a self-union with a permuted branch position by position") {
      // the shape `df.union(df.select(<permuted columns>))`, stacked twice:
      // each output position reads its own column and the permuted one, and
      // the shared subtree under both branches is resolved once per level
      val names = IndexedSeq("l_quantity", "l_extendedprice", "l_discount", "l_tax")
      val perms = Seq(IndexedSeq(2, 0, 3, 1), IndexedSeq(1, 3, 0, 2))
      var df = li.select(names.map(col): _*)
      var expected = names.map(n => Set(n))
      perms.foreach { perm =>
        df = df.union(df.select(perm.indices.map(i => col(names(perm(i))).as(names(i))): _*))
        expected = perm.indices.map(i => expected(i) ++ expected(perm(i)))
      }
      val byOut = ColumnLineage.forPlan(df.queryExecution.analyzed).map(m => m.output -> m).toMap
      names.indices.foreach { i =>
        assert(byOut(names(i)).sources.map(_.split('.').last).toSet == expected(i), names(i))
        assert(byOut(names(i)).sources.forall(_.contains("lineitem.parquet")))
        assert(byOut(names(i)).expression.isEmpty, "identity reads and renames only")
      }
    }

    it("takes a union's derivation from its first branch that computes one") {
      def derivation(df: DataFrame) =
        ColumnLineage.forPlan(df.queryExecution.analyzed).map(m => m.output -> m.expression).toMap
      val read = li.select(col("l_orderkey").as("k"))
      val plusOne = ord.select((col("o_orderkey") + 1).as("k"))
      val twice = li.select((col("l_orderkey") * 2).as("k"))
      assert(derivation(read.union(plusOne))("k") == Some("(o_orderkey + CAST(1 AS BIGINT))"))
      assert(derivation(plusOne.union(read))("k") == Some("(o_orderkey + CAST(1 AS BIGINT))"))
      assert(derivation(twice.union(plusOne))("k") == Some("(l_orderkey * CAST(2 AS BIGINT))"))
      assert(derivation(read.union(read))("k").isEmpty)
    }

    it("resolves a deep stack of a + b layers to the transitive source sets") {
      val base = IndexedSeq("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
        "l_quantity", "l_extendedprice", "l_discount", "l_tax")
      val rnd = new scala.util.Random(7)
      var df = li.select(base.map(col): _*)
      var names = base
      var expected = base.map(n => Set(n))
      (1 to 10).foreach { level =>
        val refs = IndexedSeq.fill(base.size)((rnd.nextInt(base.size), rnd.nextInt(base.size)))
        df = df.select(refs.zipWithIndex.map { case ((a, b), i) =>
          (col(names(a)) + col(names(b))).as(s"x${level}_$i") }: _*)
        names = refs.indices.map(i => s"x${level}_$i")
        expected = refs.map { case (a, b) => expected(a) ++ expected(b) }
      }
      val lin = lineage(df)
      assert(lin.keySet == names.toSet)
      names.indices.foreach { i =>
        assert(lin(names(i)).map(_.split('.').last) == expected(i), names(i))
      }
      assert(expected.exists(_.size > 2), "the wiring should mix columns")
    }

    it("reports the derivation SQL of window and explode outputs") {
      val w = Window.partitionBy("o_orderpriority").orderBy("o_totalprice")
      val win = ColumnLineage.forPlan(ord.select(col("o_orderkey"),
          row_number().over(w).as("rn")).withColumnRenamed("rn", "rank").queryExecution.analyzed)
        .map(m => m.output -> m.expression).toMap
      assert(win("rank") == Some("row_number() OVER (PARTITION BY o_orderpriority " +
        "ORDER BY o_totalprice ASC NULLS FIRST ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)"))
      assert(win("o_orderkey").isEmpty)
      val gen = ColumnLineage.forPlan(docs.select(col("doc_id"),
          explode(split(col("text"), " ")).as("word")).queryExecution.analyzed)
        .map(m => m.output -> m.expression).toMap
      assert(gen("word") == Some("explode(split(text, ' ', -1))"))
      assert(gen("doc_id").isEmpty)
    }
  }
}
