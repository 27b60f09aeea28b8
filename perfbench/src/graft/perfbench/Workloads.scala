package graft.perfbench

import scala.collection.mutable

import graft.SparkEntry
import graft.lineage.LineageGraph
import org.apache.spark.sql.{DataFrame, SparkSession}

/** One operation of a pass: builds a DataFrame whose noop write is timed.
  * `check`, when given, verifies the DataFrame after the timed write. */
final case class Op(label: String, module: String, make: SparkSession => DataFrame,
    info: String = "", check: Option[DataFrame => Option[String]] = None)

/** A workload: what each set-up loads, what the warm-up runs (and checks),
  * the operations of each timed pass, and how its records are checked. */
trait Workload {
  def prepare(spark: SparkSession, run: Run): Unit
  def warmup(spark: SparkSession, run: Run): Unit
  def pass(index: Int): Seq[Op]
  /** Check the noop-table record of each successful op, in op order. */
  def checkRecord(op: Op, record: com.fasterxml.jackson.databind.JsonNode, run: Run): Unit = ()
}

object Workloads {
  def apply(name: String, seed: Long, dataDir: String, workDir: String): Workload = name match {
    case "registry"     => new Registry(seed, dataDir, workDir)
    case "lineage_wide" => new LineageWide(seed)
    case other          => throw new IllegalArgumentException(s"unknown workload '$other'")
  }
}

object Registry {
  /** A fixed slice of the registry, query -> operator module: the queries
    * ROADMAP names, plus every 32nd query by sorted name within each
    * operator module (first included), so every module is represented and
    * no query is picked for its speed. */
  val slice: Seq[(String, String)] = Seq(
    "q1_pricing_summary" -> "Relational", "q_rollup" -> "Relational",
    "q_ab_welch" -> "Stats",
    "q_auc_probe" -> "Similarity", "q_knn_outlier" -> "Similarity", "q_knn_lsh" -> "Similarity",
    "q_bloom_decontaminate" -> "Dedup", "q_dedup_winnow" -> "Dedup", "q_lsh_tune" -> "Dedup",
    "q_bm25" -> "TextAnalysis", "q_active_users" -> "EventOps",
    "q_chunk_overlap" -> "Pipeline", "q_closeness_sample" -> "Graph",
    "q_dp_release" -> "Privacy", "q_assoc_rules" -> "MlPrep",
    "q_cdc_apply" -> "Warehouse", "q_media_clusters" -> "Multimodal",
    "q_source_avro" -> "Sources")
  val modules: Seq[String] = slice.map(_._2).distinct
}

final class Registry(seed: Long, dataDir: String, workDir: String) extends Workload {
  import Registry.slice
  val tables = Seq("region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings")

  private def query(q: String): (SparkSession, String) => DataFrame =
    SparkEntry.queries.getOrElse(q, throw new NoSuchElementException(s"registry has no query $q"))

  def prepare(spark: SparkSession, run: Run): Unit =
    tables.foreach(t => spark.read.parquet(s"$dataDir/$t.parquet").schema)

  /** The warm-up pass is also the oracle gate's input: each slice query's
    * result goes to parquet, with its DuckDB oracle SQL beside it. */
  def warmup(spark: SparkSession, run: Run): Unit = {
    val gate = s"$workDir/gate"
    slice.foreach { case (q, _) =>
      try query(q)(spark, dataDir).write.mode("overwrite").parquet(s"$gate/$q")
      catch { case e: Throwable => run.fail(s"registry warm-up $q: $e") }
    }
    val oracle = Json.mapper.createObjectNode()
    slice.foreach { case (q, _) => oracle.put(q, SparkEntry.oracleSql(q)) }
    Json.mapper.writeValue(new java.io.File(s"$gate/oracle_sql.json"), oracle)
  }

  def pass(index: Int): Seq[Op] = {
    val order = new scala.util.Random(seed * 7919 + index).shuffle(slice)
    order.map { case (q, m) => Op(q, m, s => query(q)(s, dataDir)) }
  }
}

/** Wide generated plans over tiny in-memory tables: record building costs
  * more than the action, so records queue on the listener bus. */
final class LineageWide(seed: Long) extends Workload {
  private val plans = mutable.Map.empty[String, PlanGen.Plan]

  def prepare(spark: SparkSession, run: Run): Unit = spark.range(1).count()

  def warmup(spark: SparkSession, run: Run): Unit =
    PlanGen.plans(~seed, 2, firstId = 1000000).foreach { p =>
      PlanGen.build(spark, p).write.format("noop").mode("overwrite").save()
    }

  def pass(index: Int): Seq[Op] =
    PlanGen.plans(seed * 1000 + index, PlanGen.PassSize, firstId = index * PlanGen.PassSize).map { p =>
      val label = s"plan${p.id}"
      plans(label) = p
      Op(label, "lineage", s => PlanGen.build(s, p), p.shape.toString)
    }

  override def checkRecord(op: Op, record: com.fasterxml.jackson.databind.JsonNode, run: Run): Unit = {
    val plan = plans(op.label)
    val got = mutable.LinkedHashMap.empty[String, Set[String]]
    record.path("columnLineage").forEach { m =>
      val srcs = mutable.Set.empty[String]
      m.path("sources").forEach(s => srcs += s.asText())
      got(m.path("output").asText()) = srcs.toSet
    }
    val want = plan.expected
    if (got.keys.toSeq != want.map(_._1))
      run.fail(s"${op.label} ${plan.shape}: output columns ${got.size} != ${want.size} expected")
    else want.find { case (c, s) => got(c) != s }.foreach { case (c, s) =>
      run.fail(s"${op.label} ${plan.shape}: column $c sources ${got(c).toSeq.sorted} != ${s.toSeq.sorted}")
    }
  }
}

/** Impact queries over a generated JSONL catalog, each checked against a
  * BFS over the generator's DAG: the read side of the records, run after
  * the timed loop of a traced `lineage_wide` run for the `graph.*` layer. */
final class CatalogImpact(seed: Long, workDir: String) {
  val catalog: CatalogGen.Catalog = CatalogGen.generate(seed)
  val path = s"$workDir/catalog.jsonl"

  private sealed trait Query { def label: String }
  private final case class Datasets(root: String) extends Query { def label = s"downstream:$root" }
  private final case class Columns(root: String) extends Query { def label = s"columns:$root" }
  private final case class Taint(roots: Seq[String]) extends Query { def label = s"pii:${roots.mkString(",")}" }

  /** 4 dataset roots, 4 column roots and 4 three-root taint queries. Roots
    * are drawn per closure depth (from the oracle), cycling 1..3 hops, so
    * every seed asks for the same mix of shallow and deep closures. */
  private val queries: Seq[Query] = {
    val rnd = new scala.util.Random(seed + 17)
    def depth(edges: Set[(String, String)], r: String) = CatalogGen.closure(edges, Seq(r)).values.max
    def byDepth(cands: Seq[String], edges: Set[(String, String)], n: Int): Seq[String] = {
      val groups = cands.groupBy(depth(edges, _)).filter(_._1 > 0)
      val depths = groups.keys.toSeq.sorted
      (0 until n).map { i =>
        val want = 1 + i % 3
        val d = depths.minBy(x => (math.abs(x - want), x))
        val g = groups(d).sorted
        g(rnd.nextInt(g.size))
      }
    }
    val datasets = catalog.datasets.map(_.name)
    val srcCols = catalog.datasets.filter(_.level == 0).flatMap(d => d.columns.map(c => s"${d.name}.$c"))
    byDepth(datasets, catalog.edges, 4).map(Datasets) ++
      byDepth(srcCols, catalog.columnEdges, 4).map(Columns) ++
      byDepth(srcCols, catalog.columnEdges, 12).grouped(3).map(g => Taint(g.distinct)).toSeq
  }

  private def query(spark: SparkSession, q: Query): DataFrame = q match {
    case Datasets(r) => LineageGraph.downstreamCatalog(spark, path, r)
    case Columns(r)  => LineageGraph.downstreamColumnsCatalog(spark, path, r)
    case Taint(rs)   => LineageGraph.piiTaintCatalog(spark, path, rs)
  }

  private def expected(q: Query): Set[Seq[String]] = q match {
    case Datasets(r) => CatalogGen.closure(catalog.edges, Seq(r)).map { case (n, d) => Seq(n, d.toString) }.toSet
    case Columns(r)  => CatalogGen.closure(catalog.columnEdges, Seq(r)).map { case (n, d) => Seq(n, d.toString) }.toSet
    case Taint(rs)   => rs.flatMap(r => CatalogGen.closure(catalog.columnEdges, Seq(r))
      .map { case (n, d) => Seq(r, n, d.toString) }).toSet
  }

  /** Writes the catalog through `toJson`, as a JSONL sink would. */
  def write(): Unit = {
    val w = java.nio.file.Files.newBufferedWriter(java.nio.file.Paths.get(path))
    try catalog.records.foreach { r => w.write(r.toJson); w.newLine() } finally w.close()
  }

  /** The closure gate: a query's result is checkpointed by the closure
    * walk, so collecting it after the timed write recomputes nothing.
    * It collects through the RDD, which fires no lineage record. */
  private def verify(q: Query)(df: DataFrame): Option[String] = {
    val got = df.rdd.collect().map(r => r.toSeq.map(String.valueOf)).toSet
    val want = expected(q)
    if (got == want) None
    else Some(s"catalog ${q.label}: ${got.size} rows, ${want.size} expected; " +
      s"missing ${(want -- got).take(3)}, extra ${(got -- want).take(3)}")
  }

  def ops: Seq[Op] =
    new scala.util.Random(seed * 31).shuffle(queries)
      .map(q => Op(q.label, "graph", s => query(s, q), check = Some(verify(q))))

  /** Closure levels of a query, from its oracle (for graph.level_ms). */
  def levels(label: String): Int =
    queries.find(_.label == label).map(q => expected(q).map(_.last.toInt).max + 1).getOrElse(1)
}
