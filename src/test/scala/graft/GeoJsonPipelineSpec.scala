package graft

import graft.pipelines.GeoJsonPipeline
import java.nio.file.{Files, Paths}

/** Golden test: the engine's GeoJSON→TTL output must be byte-identical
  * to the reference implementation's output on the same fixture (the
  * golden was produced by running the reference's create_geosparql_ttl
  * on fixtures/TCGA-….geojson; only the wall-clock timestamp is
  * normalized via injection). */
class GeoJsonPipelineSpec extends SparkTestBase {
  private val fixtureDir = "src/test/resources/fixtures"
  private val goldenPath = "src/test/resources/golden/geojson_expected.ttl"

  test("GeoJSON pipeline matches reference output byte-for-byte") {
    val golden = new String(Files.readAllBytes(Paths.get(goldenPath)), "UTF-8")
    val ts = "dc:date\\s+\"([^\"]+)\"".r
      .findFirstMatchIn(golden).get.group(1)
    val out = GeoJsonPipeline.run(spark, fixtureDir, ts).collect()
    assert(out.length == 1)
    val row = out.head
    assert(row.getAs[String]("stem") ==
      "TCGA-AA-1111-01Z-00-DX1.abcd-uuid-1234")
    val ttl = row.getAs[String]("ttl")
    assert(ttl == golden, {
      val a = ttl.linesIterator.toSeq; val g = golden.linesIterator.toSeq
      val firstDiff = a.zipAll(g, "<EOF>", "<EOF>").zipWithIndex
        .find { case ((x, y), _) => x != y }
      s"first differing line: $firstDiff"
    })
  }

  test("only valid features survive (unmapped/zero/empty dropped)") {
    val ttl = GeoJsonPipeline.run(spark, fixtureDir, "T").collect()
      .head.getAs[String]("ttl")
    assert("rdfs:member".r.findAllIn(ttl).size == 2)
    // strict-> tie-break: first max wins → Necrosis (6574001), not Tumor
    assert(ttl.contains("hal:classification  sno:6574001"))
  }

  test("file with no features still yields header + terminator") {
    import java.nio.file.Files
    val tmp = Files.createTempDirectory("geojson_empty")
    Files.writeString(tmp.resolve("TCGA-ZZ-0000-01Z-00-DX1.u.geojson"),
      """{"features": []}""")
    val out = GeoJsonPipeline.run(spark, tmp.toString, "T").collect()
    assert(out.length == 1)
    val ttl = out.head.getAs[String]("ttl")
    assert(!ttl.contains("rdfs:member") && ttl.endsWith(" .\n"))
  }

  test("plan: documents() reads the JSON corpus ONCE (headers ride " +
    "the exploded rows, no rejoin)") {
    val plan = GeoJsonPipeline.run(spark, fixtureDir, "T")
      .queryExecution.executedPlan.toString
    val scans = "FileScan json".r.findAllIn(plan).size
    assert(scans == 1, s"expected 1 json scan, got $scans:\n" +
      plan.linesIterator.filter(_.contains("FileScan"))
        .mkString("\n"))
    // and no join resurfaced (the old shape joined headers back on)
    assert(!plan.contains("Join"), plan)
  }

  test("degenerate points drop the FEATURE (reference's except→None), " +
    "not the job, and null measurement values never print as 'null'") {
    import java.nio.file.Files
    val tmp = Files.createTempDirectory("geojson_dirty")
    Files.writeString(tmp.resolve("TCGA-DD-0001-01Z-00-DX1.u.geojson"),
      """{"features": [
        | {"geometry": {"type": "Polygon",
        |   "coordinates": [[[1.0,2.0],[3.0],[5.0,6.0]]]},
        |  "properties": {"measurements": {"prob_400p-Tumor": 0.9}}},
        | {"geometry": {"type": "Polygon",
        |   "coordinates": [[[1.0,2.0],[3.0,4.0]]]},
        |  "properties": {"measurements": {"prob_400p-Tumor": 0.8,
        |   "prob_400p-Stroma": null}}}
        |]}""".stripMargin)
    val out = GeoJsonPipeline.run(spark, tmp.toString, "T").collect()
    assert(out.length == 1)
    val ttl = out.head.getAs[String]("ttl")
    // feature 1 (degenerate point) dropped; feature 2 survives
    assert("rdfs:member".r.findAllIn(ttl).size == 1, ttl)
    // the null-valued Stroma entry is skipped, never "null"^^xsd:float
    assert(!ttl.contains("\"null\""), ttl)
    assert(ttl.contains("hal:hasProbability  \"0.800000\""), ttl)
  }

  test("only the .geojson files directly in the directory are read") {
    val dir = Files.createTempDirectory("geojson_nested")
    val doc = """{"features": []}"""
    for (rel <- Seq("TCGA-AA-0001-01Z-00-DX1.u.geojson",
      "sub/TCGA-AA-0002-01Z-00-DX1.u.geojson",
      "k=v/TCGA-AA-0003-01Z-00-DX1.u.geojson",
      "_TCGA-AA-0004-01Z-00-DX1.u.geojson", "notes.txt")) {
      val p = dir.resolve(rel)
      Files.createDirectories(p.getParent)
      Files.writeString(p, doc)
    }
    val stems = GeoJsonPipeline.read(spark, dir.toString)
      .select("stem").collect().map(_.getString(0)).toSet
    assert(stems == Set("TCGA-AA-0001-01Z-00-DX1.u"), stems)
  }
}
