package graft.lineage

/** Renders a [[LineageRecord]] as an OpenLineage RunEvent — the public,
  * vendor-neutral lineage wire format (openlineage.io, spec 1-0-5) that
  * catalog collectors (Marquez-style services) ingest natively. This is
  * a pure formatter: the listener pipeline stays format-agnostic and
  * the sink picks the dialect (`HttpSink.asyncOpenLineage`).
  *
  * Mapping choices:
  *  - status success/failure → eventType COMPLETE/FAIL. Marquez-style
  *    consumers additionally expect a START so they can compute run
  *    durations server-side: [[toStartEvent]] back-dates one from the
  *    record (eventTime = end − durationNs), sharing the runId, and
  *    [[toRunEventPair]] ships START + COMPLETE/FAIL as one ndjson pair
  *    — no second listener hook needed, and the pair is emitted
  *    atomically (a crash can't orphan a START).
  *  - run.runId is the spec-required UUID, derived deterministically
  *    (name-UUID of appId:timestamp:funcName) so re-renders of the same
  *    record agree — and the START/COMPLETE pair agrees by construction.
  *  - job = (namespace "graft", name "appName.funcName").
  *  - inputs/outputs carry the spec's `schema` dataset facet (pruned
  *    columns read / output columns), `columnLineage` facet with
  *    per-field inputFields, and outputStatistics (rowCount/size).
  *  - FAIL events carry the `errorMessage` run facet.
  */
object OpenLineage {

  private val Producer = "urn:graft:spark-lineage"
  private val SchemaUrl =
    "https://openlineage.io/spec/1-0-5/OpenLineage.json#/definitions/RunEvent"
  private def facetUrl(defn: String): String =
    s"https://openlineage.io/spec/facets/1-0-0/$defn.json"

  import Json.{quote => q}

  private def obj(fields: Seq[(String, String)]): String =
    fields.map { case (k, v) => s"${q(k)}:$v" }.mkString("{", ",", "}")

  private def arr(xs: Seq[String]): String = xs.mkString("[", ",", "]")

  private def facet(defn: String, extra: (String, String)*): Seq[(String, String)] =
    Seq("_producer" -> q(Producer), "_schemaURL" -> q(facetUrl(defn))) ++ extra

  private def schemaFacet(cols: Seq[String]): (String, String) =
    "schema" -> obj(facet("SchemaDatasetFacet",
      "fields" -> arr(cols.map(c => obj(Seq("name" -> q(c)))))))

  /** Dataset naming: split "scheme-less path or table" into the spec's
    * (namespace, name) pair — paths namespace under "file", tables and
    * everything else under the job namespace. */
  private def datasetRef(kind: String, name: String): (String, String) =
    if (kind == "path") ("file", name) else ("graft", name)

  private def runIdOf(r: LineageRecord): String =
    java.util.UUID.nameUUIDFromBytes(
      s"${r.appId}:${r.timestampMs}:${r.funcName}"
        .getBytes(java.nio.charset.StandardCharsets.UTF_8)).toString

  /** The START half of the run: back-dated to the action's start
    * (record timestamp − duration), same runId as the terminal event,
    * inputs with schema facets (known at start), no outputs/statistics
    * (end-of-run knowledge). */
  def toStartEvent(r: LineageRecord): String = {
    val startMs = r.timestampMs - math.max(0L, r.durationNs / 1000000L)
    val inputs = r.inputs.map { i =>
      val (ns, name) = datasetRef(i.kind, i.name)
      obj(Seq(
        "namespace" -> q(ns), "name" -> q(name),
        "facets" -> obj(Seq(schemaFacet(i.columnsRead)))))
    }
    obj(Seq(
      "eventType" -> q("START"),
      "eventTime" -> q(java.time.Instant.ofEpochMilli(startMs).toString),
      "run" -> obj(Seq("runId" -> q(runIdOf(r)))),
      "job" -> obj(Seq(
        "namespace" -> q("graft"),
        "name" -> q(s"${r.appName}.${r.funcName}"))),
      "inputs" -> arr(inputs),
      "outputs" -> arr(Nil),
      "producer" -> q(Producer),
      "schemaURL" -> q(SchemaUrl)))
  }

  /** START + COMPLETE/FAIL as one ndjson pair (two lines) — the shape
    * `HttpSink.asyncOpenLineage` ships, so duration-computing consumers
    * see the spec's full run lifecycle. */
  def toRunEventPair(r: LineageRecord): String =
    toStartEvent(r) + "\n" + toRunEvent(r)

  def toRunEvent(r: LineageRecord): String = {
    val eventType = if (r.status == "success") "COMPLETE" else "FAIL"
    val eventTime = java.time.Instant.ofEpochMilli(r.timestampMs).toString
    val runId = runIdOf(r)

    val runFacets: Seq[(String, String)] =
      r.error.map(e => "errorMessage" -> obj(facet("ErrorMessageRunFacet",
        "message" -> q(e), "programmingLanguage" -> q("scala")))).toSeq

    val inputs = r.inputs.map { i =>
      val (ns, name) = datasetRef(i.kind, i.name)
      val stats = Seq(
        i.rowsRead.map(n => "rowCount" -> n.toString),
        i.bytesRead.map(n => "size" -> n.toString)).flatten
      obj(Seq(
        "namespace" -> q(ns), "name" -> q(name),
        "facets" -> obj(Seq(schemaFacet(i.columnsRead)))) ++
        (if (stats.isEmpty) Nil
         else Seq("inputFacets" -> obj(Seq(
           "inputStatistics" -> obj(facet("InputStatisticsInputDatasetFacet", stats: _*)))))))
    }

    val outputs = r.output.toSeq.map { o =>
      val (ns, name) = datasetRef(o.kind, o.name)
      val colLineage =
        if (r.columnLineage.isEmpty) Nil
        else Seq("columnLineage" -> obj(facet("ColumnLineageDatasetFacet",
          "fields" -> obj(r.columnLineage.map { m =>
            m.output -> obj(Seq("inputFields" -> arr(m.sources.map { src =>
              // sources are "table_or_path.column": split on the LAST dot
              val cut = src.lastIndexOf('.')
              val (ds, field) =
                if (cut < 0) (src, src) else (src.substring(0, cut), src.substring(cut + 1))
              obj(Seq("namespace" -> q("graft"), "name" -> q(ds), "field" -> q(field)))
            })) ++ (m.expression match {
              // spec's per-field transformation slots: IDENTITY for plain
              // reads/renames, the Catalyst SQL derivation otherwise
              case Some(e) => Seq(
                "transformationType" -> q("EXPRESSION"),
                "transformationDescription" -> q(e))
              case None => Seq("transformationType" -> q("IDENTITY"))
            }))
          }))))
      val stats = Seq(
        r.rowsWritten.map(n => "rowCount" -> n.toString),
        r.bytesWritten.map(n => "size" -> n.toString)).flatten
      obj(Seq(
        "namespace" -> q(ns), "name" -> q(name),
        "facets" -> obj(schemaFacet(r.outputColumns) +: colLineage)) ++
        (if (stats.isEmpty) Nil
         else Seq("outputFacets" -> obj(Seq(
           "outputStatistics" -> obj(facet("OutputStatisticsOutputDatasetFacet", stats: _*)))))))
    }

    obj(Seq(
      "eventType" -> q(eventType),
      "eventTime" -> q(eventTime),
      "run" -> obj(Seq("runId" -> q(runId)) ++
        (if (runFacets.isEmpty) Nil else Seq("facets" -> obj(runFacets)))),
      "job" -> obj(Seq(
        "namespace" -> q("graft"),
        "name" -> q(s"${r.appName}.${r.funcName}"))),
      "inputs" -> arr(inputs),
      "outputs" -> arr(outputs),
      "producer" -> q(Producer),
      "schemaURL" -> q(SchemaUrl)))
  }
}
