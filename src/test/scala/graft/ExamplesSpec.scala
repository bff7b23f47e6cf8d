package graft

import java.nio.file.{Files, Paths}

/** Drives the MIGRATION.md example entry points end-to-end on the
  * test fixtures. */
class ExamplesSpec extends SparkTestBase {

  test("geojsonEtl writes one .ttl per input stem") {
    val out = Files.createTempDirectory("ex_geo").toString
    Examples.geojsonEtl(spark, "src/test/resources/fixtures", out, "T")
    assert(Files.exists(
      Paths.get(out, "TCGA-AA-1111-01Z-00-DX1.abcd-uuid-1234.ttl")))
  }

  test("mongoEtl end-to-end: batches written, ledger advances") {
    val work = Files.createTempDirectory("ex_mongo")
    val fx = "src/test/resources/fixtures/mongo"
    // empty svs glob dir: hash lookup empty → fallback hashing
    val svs = Files.createTempDirectory("ex_svs")
    Files.write(svs.resolve("dummy.svs"), "img".getBytes)
    Examples.mongoEtl(spark, s"$fx/marks.jsonl", s"$fx/analyses.jsonl",
      svs.toString + "/*.svs", s"$work/out", s"$work/ledger")
    assert(Files.exists(Paths.get(s"$work/out",
      "exec-1/img-1/batch_000001.ttl.gz")))
    def done = graft.incremental.BatchLedger
      .doneKeys(spark, s"$work/ledger").collect().map(_.getString(0)).toSet
    val afterFirst = done
    assert(afterFirst.nonEmpty)
    // second run: analysis an-001 is in the ledger → nothing pending;
    // it records its (empty) wave under the next id, so wave 0 keeps
    // the first run's keys
    Examples.mongoEtl(spark, s"$fx/marks.jsonl", s"$fx/analyses.jsonl",
      svs.toString + "/*.svs", s"$work/out2", s"$work/ledger")
    assert(!Files.exists(Paths.get(s"$work/out2")) ||
      Files.list(Paths.get(s"$work/out2")).count() == 0)
    assert(done == afterFirst)
    assert(graft.incremental.BatchLedger
      .nextWave(spark, s"$work/ledger") == 2L)
  }

  test("rdfRoundTrip converts a golden turtle file across formats") {
    val ttl = "src/test/resources/golden/seg_expected.ttl"
    val asJsonLd = Examples.rdfRoundTrip(spark, ttl, "turtle", "json-ld")
    val asXml = Examples.rdfRoundTrip(spark, ttl, "turtle", "xml")
    // both serializations re-parse to the same triple count
    val n = graft.ttl.TurtleParser.parse(
      java.nio.file.Files.readString(Paths.get(ttl))).size
    assert(graft.ttl.JsonLd.parse(asJsonLd).size == n)
    assert(graft.ttl.RdfXml.parse(asXml).size == n)
  }

  test("enrichExample enriches a slide frame with a left join") {
    import spark.implicits._
    val out = Examples.enrichExample(
      Seq("s1", "s2", "").toDF("slide"))
    val m = out.collect()
      .map(r => r.getString(0) -> Option(r.getString(1))).toMap
    assert(m == Map("s1" -> Some("1s"), "s2" -> Some("2s"), "" -> None))
  }
}
