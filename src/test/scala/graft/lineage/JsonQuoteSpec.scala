package graft.lineage

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funspec.AnyFunSpec

/** The shared JSON string encoder: every string a record carries must
  * come back unchanged through a strict parser, from both renderings. */
class JsonQuoteSpec extends AnyFunSpec {

  private val om = new ObjectMapper()
  private val nasty = "a\"b\\c\u0001d"

  private val rec = LineageRecord(
    appId = "app", appName = nasty, user = "tester",
    funcName = "save", status = "failure", error = Some(nasty),
    durationNs = 1L, timestampMs = 1700000000000L,
    inputs = Seq(InputEntity("path", s"/data/$nasty", Some("parquet"), Seq(nasty))),
    output = Some(OutputEntity("path", "/out", Some("parquet"), Some("overwrite"))),
    outputColumns = Seq(nasty),
    columnLineage = Seq(ColumnMapping(nasty, Seq(s"/data/in.$nasty"), Some(nasty))),
    schemaFingerprint = "ab" * 32, rowsWritten = None,
    queryText = Some(nasty), observed = Seq(nasty -> nasty))

  describe("Json.quote") {
    it("round-trips every control character, quote and backslash") {
      val all = (0 until 0x20).map(_.toChar).mkString + "\"\\/ plain ü"
      assert(om.readTree(Json.quote(all)).asText() == all)
    }

    it("round-trips a record's strings through LineageRecord.toJson") {
      val j = om.readTree(rec.toJson)
      assert(j.get("appName").asText() == nasty)
      assert(j.get("error").asText() == nasty)
      assert(j.get("queryText").asText() == nasty)
      assert(j.get("outputColumns").get(0).asText() == nasty)
      assert(j.get("inputs").get(0).get("name").asText() == s"/data/$nasty")
      assert(j.get("inputs").get(0).get("columnsRead").get(0).asText() == nasty)
      val m = j.get("columnLineage").get(0)
      assert(m.get("output").asText() == nasty)
      assert(m.get("sources").get(0).asText() == s"/data/in.$nasty")
      assert(m.get("expression").asText() == nasty)
      assert(j.get("observed").get(0).get("name").asText() == nasty)
      assert(j.get("observed").get(0).get("value").asText() == nasty)
    }

    it("round-trips a record's strings through OpenLineage.toRunEvent") {
      val j = om.readTree(OpenLineage.toRunEvent(rec))
      assert(j.get("job").get("name").asText() == s"$nasty.save")
      assert(j.get("run").get("facets").get("errorMessage").get("message").asText() == nasty)
      assert(j.get("inputs").get(0).get("name").asText() == s"/data/$nasty")
      val out = j.get("outputs").get(0).get("facets")
      assert(out.get("schema").get("fields").get(0).get("name").asText() == nasty)
      val field = out.get("columnLineage").get("fields").get(nasty)
      assert(field.get("transformationDescription").asText() == nasty)
      val in = field.get("inputFields").get(0)
      assert(in.get("name").asText() == "/data/in")
      assert(in.get("field").asText() == nasty)
    }
  }
}
