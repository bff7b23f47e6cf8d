package graft

import graft.pipelines.{HashRepairJob, MongoMarksPipeline => M, PathMeta}
import java.nio.file.{Files, Paths}
import java.util.zip.{GZIPInputStream, GZIPOutputStream}

class HashRepairJobSpec extends SparkTestBase {

  private def gzWrite(path: java.nio.file.Path, s: String): Unit = {
    Files.createDirectories(path.getParent)
    val os = new GZIPOutputStream(Files.newOutputStream(path))
    os.write(s.getBytes("UTF-8")); os.close()
  }
  private def gzRead(path: java.nio.file.Path): String =
    new String(new GZIPInputStream(Files.newInputStream(path))
      .readAllBytes(), "UTF-8")

  test("repairs sha256 urns, upgrades md5, strips loinc, new snapshot") {
    val base = Files.createTempDirectory("ttltree")
    val out = Files.createTempDirectory("ttlout").toString
    val oldSha = "b" * 64
    val oldMd5 = "c" * 32
    gzWrite(base.resolve("slideA.svs/batch_000001.ttl.gz"),
      s"@prefix loinc: <http://loinc.org/rdf/> .\n" +
        s"<urn:sha256:$oldSha>\n    a so:ImageObject .\n")
    gzWrite(base.resolve("slideB.svs/batch_000001.ttl.gz"),
      s"<urn:md5:$oldMd5>\n    a so:ImageObject .\n")
    gzWrite(base.resolve("slideC.svs/batch_000001.ttl.gz"),
      "<urn:sha256:" + "d" * 64 + ">\n    a so:ImageObject .\n")

    val hashJson = base.resolve("slide_hashes.json")
    Files.writeString(hashJson,
      s"""[{"slide": "slideA.svs", "hash": "${"A" * 64}"},
         | {"slide": "slideB.svs", "hash": "${"e" * 64}"}]"""
        .stripMargin.replace("\n", ""))

    val repaired = HashRepairJob.run(spark, base.toString,
      hashJson.toString, out)
    assert(repaired == 2L) // slideC has no lookup entry

    val a = gzRead(Paths.get(out, "slideA.svs/batch_000001.ttl.gz"))
    assert(a.contains("<urn:sha256:" + "a" * 64 + ">"), a) // lowercased
    assert(!a.contains("loinc"))
    val b = gzRead(Paths.get(out, "slideB.svs/batch_000001.ttl.gz"))
    assert(b.contains("<urn:sha256:" + "e" * 64 + ">")) // md5 upgraded
    assert(!b.contains("urn:md5"))
    val c = gzRead(Paths.get(out, "slideC.svs/batch_000001.ttl.gz"))
    assert(c.contains("<urn:sha256:" + "d" * 64 + ">")) // untouched
  }

  test("golden: run() matches output generated by the reference's own scripts") {
    // Expected files were produced by driving the reference's
    // update_ttl_gz_file + remove_loinc_xargs.sh semantics on the
    // committed input tree (tools/make_hashrepair_golden.py).
    val fx = "src/test/resources/fixtures/hashrepair"
    val out = Files.createTempDirectory("hr_golden").toString
    val repaired = HashRepairJob.run(spark, s"$fx/input",
      s"$fx/slide_hashes.json", out)
    assert(repaired == 2L) // matches the reference's updated_count
    for (rel <- Seq("slideA.svs/batch_000001", "slideA.svs/batch_000002",
      "slideB.svs/one", "slideC.svs/two")) {
      val got = gzRead(Paths.get(out, rel + ".ttl.gz"))
      val want = Files.readString(
        Paths.get("src/test/resources/golden/hashrepair", rel + ".ttl.txt"))
      assert(got == want, s"$rel diverges from the reference output")
    }
  }

  test("loinc prefix as the file's LAST line (no trailing newline) " +
    "is removed, like grep -Fv") {
    import spark.implicits._
    val df = Seq(
      ("a.svs/b1.ttl.gz",
        "<urn:x> a so:Thing .\n@prefix loinc: <http://loinc.org/rdf/> ."),
      ("a.svs/b2.ttl.gz",
        "@prefix loinc: <http://loinc.org/rdf/> .\n<urn:x> a so:Thing .\n"))
      .toDF("rel_path", "ttl")
    val got = HashRepairJob.removeLoincPrefix(df)
      .select("rel_path", "ttl").as[(String, String)].collect().toMap
    assert(got("a.svs/b1.ttl.gz") == "<urn:x> a so:Thing .\n", got)
    assert(got("a.svs/b2.ttl.gz") == "<urn:x> a so:Thing .\n", got)
  }

  test("slide keys and rel_paths from readTtlTree are DECODED — a " +
    "space in the slide dir still matches its lookup key") {
    import java.util.zip.GZIPOutputStream
    val base = Files.createTempDirectory("hr_space").toString
    val dir = Paths.get(base, "GTEX 123.svs")
    Files.createDirectories(dir)
    val out = new GZIPOutputStream(
      Files.newOutputStream(dir.resolve("batch_000001.ttl.gz")))
    out.write("<urn:sha256:aa> a so:Thing .\n".getBytes("UTF-8"))
    out.close()
    val row = HashRepairJob.readTtlTree(spark, base).collect().head
    assert(row.getAs[String]("slide") == "GTEX 123.svs", row)
    assert(row.getAs[String]("rel_path") ==
      "GTEX 123.svs/batch_000001.ttl.gz", row)
  }

  test("readTtlTree reads each file's bytes as the wholetext reader " +
    "did: malformed UTF-8 stays raw, gzip members concatenate, a zero-byte " +
    "file is skipped") {
    val base = Files.createTempDirectory("hr_bytes")
    def gz(bytes: Array[Byte]*): Array[Byte] = bytes.map { b =>
      val bos = new java.io.ByteArrayOutputStream
      val os = new GZIPOutputStream(bos); os.write(b); os.close()
      bos.toByteArray
    }.reduce(_ ++ _)
    val files = Seq(
      "slideA.svs/bad.ttl.gz" -> gz(Array[Byte]('<', 0xff.toByte, 0xc3.toByte,
        '>', 0xed.toByte, 0xa0.toByte, 0x80.toByte, '\n')),
      "slideA.svs/two.ttl.gz" -> gz("<urn:a> a so:X .\n".getBytes("UTF-8"),
        "<urn:b> a so:Y .\r\n".getBytes("UTF-8")),
      "slideB.svs/bom.ttl.gz" -> gz("\uFEFFé 图像\n".getBytes("UTF-8")),
      "slideB.svs/blank.ttl.gz" -> gz(Array.emptyByteArray),
      "slideB.svs/zero.ttl.gz" -> Array.emptyByteArray)
    for ((rel, bytes) <- files) {
      Files.createDirectories(base.resolve(rel).getParent)
      Files.write(base.resolve(rel), bytes)
    }
    def bytesOf(df: org.apache.spark.sql.DataFrame) = df
      .selectExpr("rel_path", "slide", "cast(ttl as binary)").collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getAs[Array[Byte]](2).toSeq)
      .toMap
    val got = bytesOf(HashRepairJob.readTtlTree(spark, base.toString))
    val want = bytesOf(PathMeta.filesIn(
      spark.read.format("text").option("wholetext", true),
      base.toString + "/*.svs", "*.ttl.gz")
      .selectExpr("regexp_extract(path, '/([^/]+\\\\.svs/[^/]+)$', 1) as rel_path",
        "regexp_extract(path, '/([^/]+\\\\.svs)/[^/]+$', 1) as slide",
        "value as ttl"))
    assert(got == want)
    // Spark plans no split for a zero-byte file: neither reader has a row
    assert(got.size == files.size - 1, got.keySet)
    assert(got(("slideA.svs/bad.ttl.gz", "slideA.svs")).contains(0xff.toByte))
  }

  test("buildHashLookup computes sha256 of file bytes (binaryFile)") {
    val dir = Files.createTempDirectory("svs")
    Files.write(dir.resolve("img1.svs"), "fake-image-bytes".getBytes)
    val lookup = HashRepairJob.buildHashLookup(spark,
      dir.toString + "/*.svs").collect()
    assert(lookup.length == 1)
    val expected = java.security.MessageDigest.getInstance("SHA-256")
      .digest("fake-image-bytes".getBytes)
      .map("%02x".format(_)).mkString
    assert(lookup.head.getString(0) == "img1")
    assert(lookup.head.getString(1) == expected)
  }

  test("listing the slide directories reads exactly the files the " +
    "file-level glob read") {
    // a file of every kind the file-level glob `<base>/*.svs/*.ttl.gz`
    // does or does not reach
    val base = Files.createTempDirectory("hradv")
    val ttl = "<urn:sha256:aa> a so:Thing .\n"
    for (rel <- Seq("slideA.svs/batch_000001.ttl.gz",
      "slideA.svs/deeper/batch_000002.ttl.gz",
      "slideA.svs/inner.svs/batch_000003.ttl.gz",
      "slideA.svs/k=v/batch_000004.ttl.gz",
      "slideA.svs/_hidden.ttl.gz", "slideA.svs/.dot.ttl.gz",
      "_under.svs/batch_000005.ttl.gz", ".dot.svs/batch_000006.ttl.gz",
      "GTEX 1+2.svs/batch_000007.ttl.gz"))
      gzWrite(base.resolve(rel), ttl)
    Files.writeString(base.resolve("slideA.svs/batch_000008.ttl.gz.tmp-0123abcd"), ttl)
    Files.writeString(base.resolve("slideA.svs/notes.txt"), ttl)
    Files.writeString(base.resolve("fake.svs"), "not a directory")

    val read = HashRepairJob.readTtlTree(spark, base.toString)
      .select("slide", "rel_path").collect()
      .map(r => r.getString(0) -> r.getString(1)).toSet
    assert(read == Set(
      "slideA.svs" -> "slideA.svs/batch_000001.ttl.gz",
      "_under.svs" -> "_under.svs/batch_000005.ttl.gz",
      ".dot.svs" -> ".dot.svs/batch_000006.ttl.gz",
      "GTEX 1+2.svs" -> "GTEX 1+2.svs/batch_000007.ttl.gz"), read)
  }

  test("run() over slide directories that hold no TTL file writes " +
    "nothing and repairs 0") {
    val base = Files.createTempDirectory("hr_empty")
    Files.createDirectories(base.resolve("slideA.svs"))
    Files.writeString(base.resolve("slideA.svs/notes.txt"), "x")
    val hashJson = base.resolve("slide_hashes.json")
    Files.writeString(hashJson, s"""[{"slide": "slideA.svs", "hash": "${"a" * 64}"}]""")
    val out = Files.createTempDirectory("hr_empty_out")
    assert(HashRepairJob.run(spark, base.toString, hashJson.toString,
      out.toString) == 0L)
    assert(Files.list(out).count() == 0L)
  }

  private val mongoFx = "src/test/resources/fixtures/mongo"

  /** The fixture marks' documents under `hashes`, against the golden
    * batches, whose run resolved no slide hash (hal:hashMissing). */
  private def marksMatchHashMissingGolden(
    hashes: org.apache.spark.sql.DataFrame): Unit = {
    val got = M.documents(M.readMarks(spark, s"$mongoFx/marks.jsonl"),
      M.readAnalyses(spark, s"$mongoFx/analyses.jsonl"), hashes, 2)
      .collect().map(r =>
        r.getAs[String]("rel_path") -> r.getAs[String]("ttl")).toMap
    assert(got.size == 2 && got.values.forall(_.contains("hal:hashMissing")))
    for ((path, ttl) <- got) assert(ttl == Files.readString(Paths.get(
      "src/test/resources/golden/mongo_" +
        path.stripPrefix("exec-1/img-1/").stripSuffix(".gz"))), path)
  }

  /** run() over one slide's file with the lookup at `json` repairs
    * nothing and copies the file unchanged. */
  private def repairPassesThrough(base: java.nio.file.Path,
    json: String): Unit = {
    val ttl = "<urn:sha256:" + "d" * 64 + ">\n    a so:ImageObject .\n"
    gzWrite(base.resolve("tree/slideA.svs/batch_000001.ttl.gz"), ttl)
    val out = Files.createTempDirectory("passthrough_out").toString
    assert(HashRepairJob.run(spark, s"$base/tree", json, out) == 0L)
    assert(gzRead(Paths.get(out, "slideA.svs/batch_000001.ttl.gz")) == ttl)
  }

  test("loadHashJson: upper-case hex is lower-cased and extra fields " +
    "are ignored") {
    val json = Files.createTempDirectory("hashjson").resolve("h.json")
    Files.writeString(json,
      s"""[{"slide": "slideA.svs", "hash": "${"AbC" * 21}D",
         |  "size": 123, "meta": {"by": "x"}},
         | {"note": "n", "slide": "slideB.svs", "hash": "${"0" * 64}"}]"""
        .stripMargin)
    val lookup = HashRepairJob.loadHashJson(spark, json.toString)
    assert(lookup.columns.toSeq == Seq("slide", "real_hash"))
    assert(lookup.collect().map(r => r.getString(0) -> r.getString(1))
      .toSet == Set("slideA.svs" -> ("abc" * 21 + "d"),
        "slideB.svs" -> "0" * 64))
  }

  test("loadHashJson: an entry with no hash counts as missing — the " +
    "marks path emits hal:hashMissing, the repair passes the file through") {
    val base = Files.createTempDirectory("nohash")
    val json = base.resolve("slide_hashes.json")
    Files.writeString(json,
      """[{"slide": "slide-42"}, {"slide": "slideA.svs", "size": 1}]""")
    val lookup = HashRepairJob.loadHashJson(spark, json.toString)
    assert(lookup.collect().map(r => r.getString(0) -> r.getString(1))
      .toSet == Set("slide-42" -> null, "slideA.svs" -> null))
    marksMatchHashMissingGolden(lookup)
    repairPassesThrough(base, json.toString)
  }

  test("loadHashJson: [] is an empty lookup") {
    val base = Files.createTempDirectory("emptyhash")
    val json = base.resolve("slide_hashes.json")
    Files.writeString(json, "[]")
    val lookup = HashRepairJob.loadHashJson(spark, json.toString)
    assert(lookup.columns.toSeq == Seq("slide", "real_hash"))
    assert(lookup.count() == 0L)
    marksMatchHashMissingGolden(lookup)
    repairPassesThrough(base, json.toString)
  }
}
