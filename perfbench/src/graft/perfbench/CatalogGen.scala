package graft.perfbench

import graft.lineage.{ColumnMapping, InputEntity, LineageRecord, OutputEntity}

/** Seed-generated lineage catalog for the `catalog_impact` workload, with
  * the closures an impact query must return.
  *
  * Datasets sit on `levels` levels; a dataset reads one dataset of the
  * level below and up to two of any lower level, so every closure stops
  * within `levels` hops. Each output column derives from one or two
  * columns of the job's inputs. Besides one successful record per dataset,
  * the catalog holds re-runs of some jobs (same edges again) and failed
  * runs that read an extra dataset; failed runs must add no edge.
  */
object CatalogGen {
  final case class Dataset(name: String, level: Int, columns: IndexedSeq[String])
  final case class Job(output: Dataset, inputs: Seq[Dataset], mappings: Seq[(String, Seq[String])])

  final case class Catalog(datasets: IndexedSeq[Dataset], jobs: IndexedSeq[Job],
      records: IndexedSeq[LineageRecord]) {
    lazy val edges: Set[(String, String)] =
      jobs.flatMap(j => j.inputs.map(i => (i.name, j.output.name))).toSet
    lazy val columnEdges: Set[(String, String)] =
      jobs.flatMap(j => j.mappings.flatMap { case (out, srcs) =>
        srcs.map(s => (s, s"${j.output.name}.$out")) }).toSet
  }

  def generate(seed: Long, levels: Int = 4, perLevel: Int = 24): Catalog = {
    val rnd = new scala.util.Random(seed)
    val datasets = for (l <- 0 until levels; i <- 0 until perLevel) yield
      Dataset(s"ds_l${l}_$i", l, (0 until 3 + rnd.nextInt(6)).map(c => s"c$c"))
    val byLevel = datasets.groupBy(_.level)
    val jobs = datasets.filter(_.level > 0).map { out =>
      val below = byLevel(out.level - 1)
      val lower = datasets.filter(_.level < out.level)
      val ins = (below(rnd.nextInt(below.size)) +:
        Seq.fill(rnd.nextInt(3))(lower(rnd.nextInt(lower.size)))).distinct
      val cols = ins.flatMap(d => d.columns.map(c => s"${d.name}.$c"))
      val maps = out.columns.map(c => (c, Seq.fill(1 + rnd.nextInt(2))(cols(rnd.nextInt(cols.size))).distinct.sorted))
      Job(out, ins, maps)
    }
    def record(j: Job, status: String, extra: Option[Dataset], t: Long): LineageRecord = {
      val ins = j.inputs ++ extra
      LineageRecord(
        appId = "perfbench-catalog", appName = "perfbench", user = "perfbench",
        funcName = "save", status = status,
        error = if (status == "success") None else Some("synthetic failure"),
        durationNs = 1000000L + t, timestampMs = 1700000000000L + t,
        inputs = ins.map(d => InputEntity("table", d.name, Some("parquet"), d.columns)),
        output = Some(OutputEntity("table", j.output.name, Some("parquet"), Some("overwrite"))),
        outputColumns = j.output.columns,
        columnLineage = j.mappings.map { case (o, s) =>
          ColumnMapping(o, s, if (s.size > 1) Some(s.mkString(" + ")) else None) },
        schemaFingerprint = f"${j.output.name.hashCode}%08x",
        rowsWritten = Some(100L + t), planFingerprint = f"${t}%016x",
        queryText = Some(s"plan: InsertInto ${j.output.name}"))
    }
    var t = 0L
    val records = jobs.flatMap { j =>
      t += 1
      val runs = Seq.newBuilder[LineageRecord]
      runs += record(j, "success", None, t)
      if (rnd.nextInt(5) == 0) runs += record(j, "success", None, t + 100000)
      if (rnd.nextInt(6) == 0) {
        val decoy = datasets.filter(_.level < j.output.level)
        runs += record(j, "failure", Some(decoy(rnd.nextInt(decoy.size))), t + 200000)
      }
      runs.result()
    }
    Catalog(datasets, jobs, rnd.shuffle(records))
  }

  /** Min-hop BFS over `edges` from `roots`: node -> depth, roots at 0. */
  def closure(edges: Set[(String, String)], roots: Seq[String]): Map[String, Int] = {
    val out = edges.groupMap(_._1)(_._2)
    var depth = roots.map(_ -> 0).toMap
    var frontier = roots.distinct
    var d = 0
    while (frontier.nonEmpty) {
      d += 1
      val next = frontier.flatMap(n => out.getOrElse(n, Set.empty)).distinct.filterNot(depth.contains)
      depth ++= next.map(_ -> d)
      frontier = next
    }
    depth
  }
}
