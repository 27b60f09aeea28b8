package graft.lineage

/** Structured lineage/metadata record emitted once per Spark SQL action —
  * the engine's equivalent of the reference listener's report payload.
  */
final case class InputEntity(
    kind: String,            // "path" | "table" | "v2" | "inline"
    name: String,            // path(s) or catalog identifier
    format: Option[String],  // parquet/csv/... when known
    columnsRead: Seq[String],// pruned column set actually referenced
    bytesRead: Option[Long] = None, // this entity's scan filesSize (post-pruning)
    rowsRead: Option[Long] = None,  // rows its scan produced (post-pushdown)
    // Hive-partition pruning evidence: the partition predicates the scan
    // applied, and how many partitions it actually read after pruning
    partitionFilters: Seq[String] = Nil,
    partitionsRead: Option[Long] = None
)

final case class OutputEntity(
    kind: String,           // "path" | "table" | "v2"
    name: String,
    format: Option[String],
    mode: Option[String],   // append/overwrite/... when known
    // Hive-partitioned write evidence: layout columns, any static
    // partition pins ("col=val"), and how many partition directories the
    // committed write actually touched
    partitionColumns: Seq[String] = Nil,
    staticPartitions: Seq[String] = Nil,
    partitionsWritten: Option[Long] = None
)

final case class ColumnMapping(
    output: String,
    sources: Seq[String], // "table_or_path.column"
    // derivation expression (Catalyst SQL) when the column is COMPUTED;
    // None for identity reads and pure renames — rename chains resolve
    // through to the underlying derivation or source column
    expression: Option[String] = None
)

final case class LineageRecord(
    appId: String,
    appName: String,
    user: String,
    funcName: String,          // collect/save/count/... (the triggering action)
    status: String,            // "success" | "failure"
    error: Option[String],
    durationNs: Long,
    timestampMs: Long,
    inputs: Seq[InputEntity],
    output: Option[OutputEntity],
    outputColumns: Seq[String],
    columnLineage: Seq[ColumnMapping],
    schemaFingerprint: String,
    rowsWritten: Option[Long],
    bytesWritten: Option[Long] = None,
    bytesRead: Option[Long] = None,
    // Executor-level pressure of the run, aggregated over the executed
    // plan's SQL metrics (AQE-aware, reuse-deduped): total shuffle bytes
    // written / read across all exchanges, the sum of per-operator
    // per-task peak execution memory, and bytes spilled to disk. None =
    // the plan had no operator carrying that metric (scan-only plans
    // have no exchange), NOT zero observed.
    shuffleBytesWritten: Option[Long] = None,
    shuffleBytesRead: Option[Long] = None,
    peakMemoryBytes: Option[Long] = None,
    spillBytes: Option[Long] = None,
    planFingerprint: String = "",
    // "What did this job DO?" — the catalog user's first question at an
    // unexpected record. The original SQL text when the plan was parsed
    // from SQL (Origin.sqlText), else a one-line-per-node excerpt of the
    // analyzed plan. Sanitized (session redaction regex + credential
    // patterns masked) and length-capped at the emitter, never raw.
    queryText: Option[String] = None,
    // Dataset.observe() metrics harvested from the run — the in-plan
    // data-quality gates (row counts, violation sums) a pipeline attaches
    // with CollectMetrics, flowing to the catalog with the run record
    observed: Seq[(String, String)] = Seq.empty
) {

  /** Dependency-free JSON rendering (newline-safe, driver-parsable). */
  def toJson: String = {
    import Json.{quote => q}
    def arr(xs: Seq[String]): String = xs.mkString("[", ",", "]")
    def opt(o: Option[String]): String = o.map(q).getOrElse("null")
    def num(o: Option[Long]): String = o.map(_.toString).getOrElse("null")
    val ins = arr(inputs.map(i =>
      s"""{"kind":${q(i.kind)},"name":${q(i.name)},"format":${opt(i.format)},"columnsRead":${arr(i.columnsRead.map(q))},""" +
        s""""bytesRead":${num(i.bytesRead)},"rowsRead":${num(i.rowsRead)},""" +
        s""""partitionFilters":${arr(i.partitionFilters.map(q))},"partitionsRead":${num(i.partitionsRead)}}"""))
    val out = output.map(o =>
      s"""{"kind":${q(o.kind)},"name":${q(o.name)},"format":${opt(o.format)},"mode":${opt(o.mode)},""" +
        s""""partitionColumns":${arr(o.partitionColumns.map(q))},"staticPartitions":${arr(o.staticPartitions.map(q))},""" +
        s""""partitionsWritten":${num(o.partitionsWritten)}}""").getOrElse("null")
    val colLin = arr(columnLineage.map(m =>
      s"""{"output":${q(m.output)},"sources":${arr(m.sources.map(q))},"expression":${opt(m.expression)}}"""))
    // fixed-key objects (not name-keyed pairs) so consumers read a
    // stable typed schema like every other record field
    val obs = arr(observed.map { case (k, v) =>
      s"""{"name":${q(k)},"value":${q(v)}}""" })
    s"""{"appId":${q(appId)},"appName":${q(appName)},"user":${q(user)},"observed":$obs,""" +
      s""""funcName":${q(funcName)},"status":${q(status)},"error":${opt(error)},""" +
      s""""durationNs":$durationNs,"timestampMs":$timestampMs,"inputs":$ins,"output":$out,""" +
      s""""outputColumns":${arr(outputColumns.map(q))},"columnLineage":$colLin,""" +
      s""""schemaFingerprint":${q(schemaFingerprint)},"rowsWritten":${rowsWritten.map(_.toString).getOrElse("null")},""" +
      s""""bytesWritten":${bytesWritten.map(_.toString).getOrElse("null")},"bytesRead":${bytesRead.map(_.toString).getOrElse("null")},""" +
      s""""shuffleBytesWritten":${num(shuffleBytesWritten)},"shuffleBytesRead":${num(shuffleBytesRead)},""" +
      s""""peakMemoryBytes":${num(peakMemoryBytes)},"spillBytes":${num(spillBytes)},""" +
      s""""planFingerprint":${q(planFingerprint)},"queryText":${opt(queryText)}}"""
  }
}

/** The one JSON string encoder of the hand-built JSON this project writes
  * (records, OpenLineage events, bench and verify output): quotes,
  * backslash and ALL control chars (<0x20) escaped, so a tab or CR in a
  * name or SQL text cannot make a strict parser reject the line. */
private[graft] object Json {
  def quote(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
