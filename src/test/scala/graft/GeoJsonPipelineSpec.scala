package graft

import graft.pipelines.{GeoJsonPipeline, TtlFileSink}
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.execution.{FileSourceScanExec, GenerateExec}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.execution.joins.BaseJoinExec
import org.apache.spark.sql.functions.{col, concat, lit}

/** Golden test: the engine's GeoJSON→TTL output must be byte-identical
  * to the reference implementation's output on the same fixture (the
  * golden was produced by running the reference's create_geosparql_ttl
  * on fixtures/TCGA-….geojson; only the wall-clock timestamp is
  * normalized via injection). */
class GeoJsonPipelineSpec extends SparkTestBase with AdaptiveSparkPlanHelper {
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

  test("plan: documents() reads the JSON corpus ONCE and assembles " +
    "each file in the row that was read (no join, exchange, generate or " +
    "aggregate), and one sink write of a directory is one job") {
    val docs = GeoJsonPipeline.run(spark, fixtureDir, "T")
    docs.collect()
    val plan = docs.queryExecution.executedPlan
    val scans = collect(plan) { case s: FileSourceScanExec => s }
    assert(scans.length == 1 && scans.head.relation.fileFormat.toString ==
      "JSON", s"expected 1 json scan, got:\n${scans.mkString("\n")}")
    // and no join resurfaced (an old shape joined headers back on)
    assert(collect(plan) { case j: BaseJoinExec => j }.isEmpty, plan)
    assert(collect(plan) {
      case e: Exchange => e
      case g: GenerateExec => g
      case a: BaseAggregateExec => a
    }.isEmpty, plan)

    val dir = Files.createTempDirectory("geojson_sink")
    for (i <- 1 to 4) Files.copy(
      Paths.get(fixtureDir, "TCGA-AA-1111-01Z-00-DX1.abcd-uuid-1234.geojson"),
      dir.resolve(s"TCGA-AA-111$i-01Z-00-DX1.u.geojson"))
    Files.writeString(dir.resolve("TCGA-AA-1115-01Z-00-DX1.u.geojson"),
      """{"features": []}""")
    val out = Files.createTempDirectory("geojson_sink_out")
    val rel = GeoJsonPipeline.run(spark, dir.toString, "T")
      .select(concat(col("stem"), lit(".ttl")).as("rel_path"), col("ttl"))
    val tally = new TaskTally(spark.sparkContext)
    try {
      val before = tally.read()
      TtlFileSink.write(rel, out.toString)
      val jobs = (tally.read() - before).jobMs
      assert(jobs.length == 1, jobs)
    } finally spark.sparkContext.removeSparkListener(tally)
    assert((1 to 5).forall(i =>
      Files.exists(out.resolve(s"TCGA-AA-111$i-01Z-00-DX1.u.ttl"))))
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
