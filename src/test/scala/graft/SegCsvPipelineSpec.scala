package graft

import graft.pipelines.{SegCsvPipeline, TtlFileSink}
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.catalyst.expressions.FormatString
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.aggregate.{ObjectHashAggregateExec, SortAggregateExec}
import org.apache.spark.sql.execution.exchange.Exchange

/** Golden test vs. the reference's nuclear_segmentation_etl output on
  * the fixtures/segtree tree (timestamp injected). */
class SegCsvPipelineSpec extends SparkTestBase with AdaptiveSparkPlanHelper {
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

  /** Writes a features CSV of `n` rows whose areas are 1..n. */
  private def csvOf(dir: java.nio.file.Path, name: String, n: Int): Unit = {
    Files.createDirectories(dir)
    val rows = (1 to n).map(i => s"$i,1.5,[1:2:3:4:5:6]").mkString("\n")
    Files.writeString(dir.resolve(name),
      s"AreaInPixels,PhysicalSize,Polygon\n$rows\n")
  }

  private def areas(ttl: String): Seq[Int] =
    "hal:areaInPixels    \"(\\d+)\"".r.findAllMatchIn(ttl)
      .map(_.group(1).toInt).toSeq

  private def withTinySplits[T](body: => T): T = {
    val conf = spark.conf
    val saved = (conf.get("spark.sql.files.maxPartitionBytes"),
      conf.get("spark.sql.files.openCostInBytes"))
    try {
      conf.set("spark.sql.files.maxPartitionBytes", "2048")
      conf.set("spark.sql.files.openCostInBytes", "0")
      body
    } finally {
      conf.set("spark.sql.files.maxPartitionBytes", saved._1)
      conf.set("spark.sql.files.openCostInBytes", saved._2)
    }
  }

  test("the read is unsplittable: a CSV over maxPartitionBytes is read " +
    "by one task, and a packed tree keeps one document per CSV, in file " +
    "row order") {
    withTinySplits {
      // a line-mode read splits this 9 KB file into 2 KB partitions
      val one = Files.createTempDirectory("segsplit")
      csvOf(one.resolve("x_polygon/I.svs.tar.gz/x_polygon/I.svs"),
        "1_2_3_4_z-features.csv", 500)
      assert(SegCsvPipeline.read(spark, one.toString).rdd
        .getNumPartitions == 1)

      // 14 CSVs over 2 slides: the 500-row one, and 13 small ones that
      // Spark packs several to a 2 KB partition
      val tree = Files.createTempDirectory("segpack")
      val sizes = (Seq(500) ++ (1 to 13).map(i => 10 + 3 * i)).zipWithIndex
      for ((n, f) <- sizes) csvOf(
        tree.resolve(s"x_polygon/S${f % 2}.svs.tar.gz/x_polygon/S${f % 2}.svs"),
        s"${f}_0_10_10_z-features.csv", n)
      val byPart = SegCsvPipeline.read(spark, tree.toString)
        .select("path").rdd.mapPartitionsWithIndex((p, rs) =>
          rs.map(r => (r.getString(0), p))).distinct().collect()
      val parts = byPart.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
      assert(parts.size == sizes.size)
      assert(parts.values.forall(_.length == 1),
        s"a CSV was read by several tasks: $parts")
      val perPart = byPart.groupBy(_._2).values.map(_.length)
      assert(perPart.size >= 2 && perPart.exists(_ >= 2),
        s"test is vacuous: files per partition $perPart")

      val out = SegCsvPipeline.run(spark, tree.toString, "T").collect()
        .map(r => r.getAs[String]("rel_path") -> r.getAs[String]("ttl"))
      assert(out.map(_._1).distinct.length == out.length)
      assert(out.map(_._1).toSet == sizes.map { case (_, f) =>
        s"S${f % 2}.svs/x_${f}_0_10_10_z-features.ttl.gz" }.toSet)
      val docs = out.toMap
      for ((n, f) <- sizes) {
        val got = areas(docs(s"S${f % 2}.svs/x_${f}_0_10_10_z-features.ttl.gz"))
        assert(got == (1 to n), s"file $f: member order broke: ${got.take(20)}")
      }
    }
  }

  test("plan shape: the seg tree is one stage, and one sink write of it " +
    "is one job") {
    val docs = SegCsvPipeline.run(spark, base, "T")
    docs.collect()
    val plan = docs.queryExecution.executedPlan
    assert(collect(plan) { case e: Exchange => e }.isEmpty, plan)
    assert(collect(plan) {
      case a: ObjectHashAggregateExec => a
      case a: SortAggregateExec => a
    }.isEmpty, plan)
    assert(collect(plan)(_.expressions).flatten
      .forall(_.find(_.isInstanceOf[FormatString]).isEmpty), plan)

    val out = Files.createTempDirectory("segsink")
    val docs2 = SegCsvPipeline.run(spark, base, "T").select("rel_path", "ttl")
    val tally = new TaskTally(spark.sparkContext)
    try {
      val before = tally.read()
      TtlFileSink.write(docs2, out.toString)
      assert((tally.read() - before).jobMs.length == 1)
    } finally spark.sparkContext.removeSparkListener(tally)
    assert(Files.exists(out.resolve("TCGA-XX-0001-01Z-00-DX1.svs/" +
      "blca_100_200_4000_4000_0.5_1-features.ttl.gz")))
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
