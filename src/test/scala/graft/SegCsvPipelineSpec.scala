package graft

import graft.pipelines.SegCsvPipeline
import java.nio.file.{Files, Paths}

/** Golden test vs. the reference's nuclear_segmentation_etl output on
  * the fixtures/segtree tree (timestamp injected). */
class SegCsvPipelineSpec extends SparkTestBase {
  private val base = "src/test/resources/fixtures/segtree"
  private def golden(name: String): String =
    new String(Files.readAllBytes(
      Paths.get(s"src/test/resources/golden/$name")), "UTF-8")

  test("seg pipeline matches reference output byte-for-byte") {
    val g = golden("seg_expected.ttl")
    val ts = "dc:date\\s+\"([^\"]+)\"".r.findFirstMatchIn(g).get.group(1)
    val out = SegCsvPipeline.run(spark, base, ts).collect()
      .map(r => r.getAs[String]("rel_path") -> r.getAs[String]("ttl"))
      .toMap
    assert(out.size == 2)
    val mainPath =
      "TCGA-XX-0001-01Z-00-DX1.svs/blca_100_200_4000_4000_0.5_1-features.ttl.gz"
    assert(out.contains(mainPath), s"paths: ${out.keys}")
    assert(out(mainPath) == g, {
      val a = out(mainPath).linesIterator.toSeq
      val b = g.linesIterator.toSeq
      s"first diff: ${a.zipAll(b, "<EOF>", "<EOF>").find(p => p._1 != p._2)}"
    })
  }

  test("degenerate Polygon cells ('[]', '[7]') do not crash the job") {
    import java.nio.file.Files
    val tmp = Files.createTempDirectory("segdegen")
    val dir = tmp.resolve(
      "x_polygon/I.svs.tar.gz/x_polygon/I.svs")
    Files.createDirectories(dir)
    Files.writeString(dir.resolve("1_2_3_4_z-features.csv"),
      "AreaInPixels,PhysicalSize,Polygon\n5,1.5,[]\n6,2.5,[7]\n7,3.5,[1:2:3:4]\n")
    val out = SegCsvPipeline.run(spark, tmp.toString, "T").collect()
    assert(out.length == 1)
    // all three rows emit members (reference keeps pairless polygons
    // as "POLYGON (())")
    assert("rdfs:member".r.findAllIn(out.head.getAs[String]("ttl"))
      .size == 3)
  }

  test("member order is pinned by the explicit row key: two " +
    "independent runs emit byte-identical documents") {
    val a = SegCsvPipeline.run(spark, base, "T").collect()
      .map(r => r.getAs[String]("rel_path") -> r.getAs[String]("ttl"))
      .toMap
    val b = SegCsvPipeline.run(spark, base, "T").collect()
      .map(r => r.getAs[String]("rel_path") -> r.getAs[String]("ttl"))
      .toMap
    assert(a == b)
    // and multi-row patches keep FILE row order (golden also pins it)
    assert(a.values.forall(_.nonEmpty))
  }

  test("a CSV split across multiple FilePartitions still serializes " +
    "members in file row order") {
    // Spark packs splits into partitions by DESCENDING split size, so
    // partition ids alone are not file order — the pipeline's
    // input_file_block_start() sort prefix is what this pins.
    val tmp = Files.createTempDirectory("segsplit")
    val dir = tmp.resolve("x_polygon/I.svs.tar.gz/x_polygon/I.svs")
    Files.createDirectories(dir)
    val n = 500
    val rows = (1 to n).map(i => s"$i,1.5,[1:2:3:4:5:6]").mkString("\n")
    Files.writeString(dir.resolve("1_2_3_4_z-features.csv"),
      s"AreaInPixels,PhysicalSize,Polygon\n$rows\n")
    val conf = spark.conf
    val saved = (conf.get("spark.sql.files.maxPartitionBytes"),
      conf.get("spark.sql.files.openCostInBytes"))
    try {
      conf.set("spark.sql.files.maxPartitionBytes", "2048")
      conf.set("spark.sql.files.openCostInBytes", "0")
      val scanned = SegCsvPipeline.read(spark, tmp.toString)
      assert(scanned.rdd.getNumPartitions > 1,
        s"test is vacuous: ${scanned.rdd.getNumPartitions} partition(s)")
      val out = SegCsvPipeline.run(spark, tmp.toString, "T").collect()
      assert(out.length == 1)
      val areas = "hal:areaInPixels    \"(\\d+)\"".r
        .findAllMatchIn(out.head.getAs[String]("ttl"))
        .map(_.group(1).toInt).toSeq
      assert(areas == (1 to n), s"member order broke: ${areas.take(20)}")
    } finally {
      conf.set("spark.sql.files.maxPartitionBytes", saved._1)
      conf.set("spark.sql.files.openCostInBytes", saved._2)
    }
  }

  test("filename-parse fallback (0,0,40000,40000) matches reference") {
    val g = golden("seg_expected_fallback.ttl")
    val ts = "dc:date\\s+\"([^\"]+)\"".r.findFirstMatchIn(g).get.group(1)
    val out = SegCsvPipeline.run(spark, base, ts).collect()
      .map(r => r.getAs[String]("rel_path") -> r.getAs[String]("ttl"))
      .toMap
    val fbPath =
      "TCGA-XX-0001-01Z-00-DX1.svs/blca_weird-features.ttl.gz"
    assert(out.contains(fbPath), s"paths: ${out.keys}")
    assert(out(fbPath) == g)
  }

  test("listing the slide directories reads exactly the CSVs the " +
    "file-level glob read") {
    // a file of every kind the file-level glob `<base>/*_polygon/
    // *.svs.tar.gz/*_polygon/*.svs/*-features.csv` does or does not
    // reach
    val base = Files.createTempDirectory("segadv")
    val csv = "AreaInPixels,PhysicalSize,Polygon\n5,1.5,[1:2:3:4]\n"
    def put(rel: String, body: String = csv): Unit = {
      val p = base.resolve(rel)
      Files.createDirectories(p.getParent)
      Files.writeString(p, body)
    }
    val s1 = "blca_polygon/S1.svs.tar.gz/blca_polygon/S1.svs"
    put(s"$s1/1_2_3_4_a-features.csv")
    put(s"$s1/deeper/5_6_7_8_b-features.csv")
    put(s"$s1/inner.svs/5_6_7_8_c-features.csv")
    put(s"$s1/k=v/9_9_9_9_d-features.csv")
    put(s"$s1/_h-features.csv")
    put(s"$s1/.d-features.csv")
    put(s"$s1/1_2_3_4_a-features.csv.tmp-0123abcd")
    put(s"$s1/readme.txt")
    put("blca_polygon/F.svs.tar.gz/blca_polygon/F.svs", "not a directory")
    put("blca_polygon/S2.svs.tar.gz/blca_polygon/_S2.svs/2_2_2_2_e-features.csv")
    put("blca_polygon/S3.svs.tar.gz/blca_polygon/.S3.svs/3_3_3_3_f-features.csv")
    put("luad_polygon/G 1+2.svs.tar.gz/luad_polygon/G 1+2.svs/1_1_1_1_g-features.csv")

    val prefix = base.getFileName.toString + "/"
    val read = SegCsvPipeline.read(spark, base.toString)
      .select("path").distinct().collect()
      .map(r => r.getString(0).split(prefix, 2)(1)).toSet
    assert(read == Set(
      "blca_polygon/S1.svs.tar.gz/blca_polygon/S1.svs/1_2_3_4_a-features.csv",
      "blca_polygon/S2.svs.tar.gz/blca_polygon/_S2.svs/2_2_2_2_e-features.csv",
      "blca_polygon/S3.svs.tar.gz/blca_polygon/.S3.svs/3_3_3_3_f-features.csv",
      "luad_polygon/G 1+2.svs.tar.gz/luad_polygon/G 1+2.svs/1_1_1_1_g-features.csv"),
      read)
  }
}
