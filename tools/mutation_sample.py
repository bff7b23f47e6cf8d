#!/usr/bin/env python3
"""Seeded mutation sample: measure spec strength in the three least
oracle-protected layers (GeomFunctions edge arithmetic, Turtle
serializer separator/escape logic, BatchDirs protocol guards).

Each mutant is ONE deliberate single-site semantic break, applied by
exact-string replacement, tested against the suites that OWN the
layer, then reverted (git checkout). A mutant is KILLED when the
targeted suites fail, SURVIVED when they stay green. Targeted suites
(not the full run — 20 x 15 min is not a sample) bias toward
survival, which is the conservative direction for this measurement;
every survivor gets a regression spec regardless of whether some
other suite might have caught it. After each revert the sources are
recompiled, so target/ holds the unmutated classes when the sample
ends.

Usage: python3 tools/mutation_sample.py [mutant-id ...]
Writes the kill matrix to stdout (markdown); exits 0 always (the
matrix is the product, not a gate).
"""
import subprocess
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent

GEOM = "src/main/scala/graft/functions/GeomFunctions.scala"
RING = "src/main/scala/graft/expressions/RingWkt.scala"
TTL = "src/main/scala/graft/ttl/Turtle.scala"
TTLP = "src/main/scala/graft/ttl/TurtleParser.scala"
RDFF = "src/main/scala/graft/ttl/RdfFormats.scala"
BD = "src/main/scala/graft/streaming/BatchDirs.scala"

GEOM_SUITES = ("graft.GeomFunctionsSpec graft.GeomPropertiesSpec "
               "graft.GeoJsonPipelineSpec graft.MongoMarksPipelineSpec "
               "graft.SegCsvPipelineSpec")
RING_SUITES = GEOM_SUITES + " graft.RingWktSpec"
TTL_SUITES = ("graft.TurtleSpec graft.TurtleParserSpec "
              "graft.RdfFormatsSpec graft.RdfPropertiesSpec "
              "graft.W3cRdfConformanceSpec graft.HashRepairJobSpec")
BD_SUITES = ("graft.BatchDirsSpec graft.BatchDirsPropertiesSpec "
             "graft.CompactionConcurrencySpec graft.LeaseProtocolSpec")

# (id, file, description, old, new, suites)
MUTANTS = [
    # ---- GeomFunctions: edge arithmetic ----
    ("G1-area-abs", GEOM, "stArea: drop abs() (orientation sign leaks)",
     "when(pointsWellFormed(geom), abs(edgeFold(",
     "when(pointsWellFormed(geom), (edgeFold(", GEOM_SUITES),
    ("G2-area-div", GEOM, "stArea: /2 -> /4",
     "}) / 2)", "}) / 4)", GEOM_SUITES),
    ("G3-perim-dxdx", GEOM, "stPerimeter: sqrt(dx*dx+dy*dy) -> sqrt(dx*dx+dx*dx)",
     "acc + sqrt(dx * dx + dy * dy)",
     "acc + sqrt(dx * dx + dx * dx)", GEOM_SUITES),
    ("G4-close-always", GEOM, "close_ring: always append first point",
     """      .when(element_at(pts, 1) === element_at(pts, -1), pts)
      .otherwise""",
     "      .otherwise", GEOM_SUITES),
    ("G5-valid-3", GEOM, "stIsValid: >= 4 points -> >= 3",
     "size(geom) >= 1 && size(r) >= 4", "size(geom) >= 1 && size(r) >= 3",
     GEOM_SUITES),
    ("G6-idx-0", GEOM, "idx: n >= 1 -> n >= 0 (sequence(1,0) descends)",
     "when(n >= 1, sequence(lit(1), n.cast(\"int\")))",
     "when(n >= 0, sequence(lit(1), n.cast(\"int\")))", GEOM_SUITES),
    ("G7-contains-edge", GEOM, "stContains: y2 > py -> y2 >= py (boundary)",
     "val straddles = (y1 <= py && y2 > py) || (y2 <= py && y1 > py)",
     "val straddles = (y1 <= py && y2 >= py) || (y2 <= py && y1 > py)",
     GEOM_SUITES),
    # ---- Turtle serializer / canonical terms ----
    ("T1-esc-cr", TTLP, "escape: drop \\r escaping",
     '''    .replace("\\n", "\\\\n").replace("\\r", "\\\\r")''',
     '''    .replace("\\n", "\\\\n")''', TTL_SUITES),
    ("T2-esc-order", TTLP, "escape: quote before backslash (double-escape bug)",
     '''    .replace("\\\\", "\\\\\\\\").replace("\\"", "\\\\\\"")''',
     '''    .replace("\\"", "\\\\\\"").replace("\\\\", "\\\\\\\\")''',
     TTL_SUITES),
    ("T3-sep", TTL, "serialize: ' ;\\n    ' separator -> ' ; '",
     '''concat_ws(" ;\\n    ", col("po"))''',
     '''concat_ws(" ; ", col("po"))''', TTL_SUITES),
    ("T4-ntout-dt", TTL, "ntTermOut: drop datatype when expanding bare tokens",
     '''      "\\"" + term + "\\"^^" + TurtleParser.bareTokenDatatype(term)''',
     '''      "\\"" + term + "\\""''', TTL_SUITES),
    ("T5-canon-int", TTLP, "canonTyped: skip integer lexical validation",
     "case XsdInteger if BareIntegerP.matcher(lex).matches() => lex",
     "case XsdInteger => lex", TTL_SUITES),
    ("T6-merge-bag", TTL, "merge: union without distinct",
     "a.union(b).distinct()", "a.union(b)", TTL_SUITES),
    ("T7-close-postfmt", RING,
     "RingWkt: ignore post-format endpoint equality (always close)",
     """    if (close && n > 0 &&
        !out.same(firstStart, firstEnd, lastStart, out.pos)) {""",
     """    if (close && n > 0) {""",
     RING_SUITES),
    ("R1-no-tie-fallback", RING,
     "RingWkt %.2f: drop the String.format fallback near a .5 tie",
     "if (!(a < FastLimit) || math.abs(frac - 0.5) <= TieUlps * math.ulp(s))",
     "if (!(a < FastLimit))",
     RING_SUITES),
    # ---- BatchDirs protocol guards ----
    ("B1-committed-true", BD, "committed(): ignore the _SUCCESS marker",
     '    fs.exists(new Path(dir, "_SUCCESS"))',
     "    fs.exists(dir)", BD_SUITES),
    ("B2-oldest-compact", BD, "compact pick: oldest committed cutoff, not newest",
     "        .maxOption.getOrElse(-1L)",
     "        .minOption.getOrElse(-1L)", BD_SUITES),
    ("B3-covered-0", BD, "no compact dir: coverage 0 instead of -1",
     "        .maxOption.getOrElse(-1L)",
     "        .maxOption.getOrElse(0L)", BD_SUITES),
    ("B4-ids-nofilter", BD, "committedIds: keep ids under the fold coverage",
     "        .filter { case (id, p) => id > covered && committed(fs, p) }",
     "        .filter { case (_, p) => committed(fs, p) }",
     BD_SUITES),
    ("B5-no-grace", BD, "sweep: no grace window (deletes this call's inputs)",
     "      sweep(fs, baseDir, covered)",
     "      sweep(fs, baseDir, cutoff)", BD_SUITES),
    ("B6-lease-overwrite", BD, "lease tryCreate: overwrite=true (not exclusive)",
     "          try Some(fs.create(marker, false))",
     "          try Some(fs.create(marker, true))", BD_SUITES),
]

# ---- set 2: the dedup/ANN/ledger scale layers. These ARE
# oracle-protected (d4/d13/v4/v9/u-family in the DuckDB gate), so this
# measures whether the SPEC gate alone bites; a spec survivor that the
# oracle kills is recorded as such, not left unpinned.
MHL = "src/main/scala/graft/operators/MinHashLsh.scala"
IVF = "src/main/scala/graft/operators/IvfIndex.scala"
BL = "src/main/scala/graft/incremental/BatchLedger.scala"
LSH_SUITES = "graft.MinHashLshSpec graft.SpanDedupSpec"
IVF_SUITES = ("graft.IvfIndexSpec graft.ClusteredRecallSpec "
              "graft.KMeansSpec")
BL_SUITES = "graft.BatchLedgerSpec"

MUTANTS += [
    ("M1-band-conflate", MHL, "bands: band 1 mislabeled 0 (cross-band buckets)",
     "struct(1 as band, mh2 as k1, mh3 as k2),",
     "struct(0 as band, mh2 as k1, mh3 as k2),", LSH_SUITES),
    ("M2-self-pairs", MHL, "bucketPairs: slice from i, not i+1 (self-pairs)",
     "i -> transform(slice($xs, i + 1, size($xs) - i),",
     "i -> transform(slice($xs, i, size($xs) - i),", LSH_SUITES),
    ("M3-probe-farthest", IVF, "probeClusters: rank ascending (probe FARTHEST)",
     '      .orderBy(col("sim").desc, col("cluster_id").asc)',
     '      .orderBy(col("sim").asc, col("cluster_id").asc)', IVF_SUITES),
    ("M4-recenter-floor", IVF, "recenter: floor instead of round (E6 quantize)",
     '          "cast(floor(cast(x as double) * 1000000 + 0.5) as bigint)"))',
     '          "cast(floor(cast(x as double) * 1000000) as bigint)"))',
     IVF_SUITES),
    ("M5-pending-semi", BL, "pending: left_anti -> left_semi (re-does done work)",
     '    work.join(done, Seq(keyCol), "left_anti")',
     '    work.join(done, Seq(keyCol), "left_semi")', BL_SUITES),
    ("M6-assign-farthest", IVF, "assign: least(struct) — vectors join FARTHEST cluster",
     "val best = if (cands.sizeIs == 1) cands.head else greatest(cands: _*)",
     "val best = if (cands.sizeIs == 1) cands.head else least(cands: _*)",
     IVF_SUITES),
]

# ---- set 3 (r19 verdict ask #3): the wire/codec layer — the specs
# are the ONLY net under these files (the DuckDB oracle never sees a
# socket), and the r17 review found real bugs here.
BSON = "src/main/scala/graft/sources/Bson.scala"
MW = "src/main/scala/graft/sources/MongoWire.scala"
MSDS = "src/main/scala/graft/sources/MarkSocketDataSource.scala"
WIRE_SUITES = ("graft.BsonMarkDataSourceSpec graft.MongoWireDataSourceSpec "
               "graft.MarkSocketDataSourceSpec graft.MarkSocketStreamSpec "
               "graft.SocketMarkStoreSpec")

MUTANTS += [
    ("W1-doc-len", BSON, "encode: document length field off by one (drops terminator from count)",
     "val total = 4 + body.size() + 1 // length prefix + body + terminator",
     "val total = 4 + body.size() // length prefix + body + terminator",
     WIRE_SUITES),
    ("W2-str-len", BSON, "encode string: length excludes the trailing NUL",
     "writeInt32(out, b.length + 1); out.write(b); out.write(0x00)",
     "writeInt32(out, b.length); out.write(b); out.write(0x00)",
     WIRE_SUITES),
    ("W3-str-nul", BSON, "decode string: include the trailing NUL in the value",
     "(nf.textNode(new String(buf, i + 4, len - 1, UTF_8)), i + 4 + len)",
     "(nf.textNode(new String(buf, i + 4, len, UTF_8)), i + 4 + len)",
     WIRE_SUITES),
    ("W4-i64-7byte", BSON, "int64 decode: top byte dropped (j starts at 6)",
     "var v = 0L; var j = 7",
     "var v = 0L; var j = 6",
     WIRE_SUITES),
    ("W5-embed-drift", BSON, "embedded doc: tolerate length drift (== -> <=)",
     'require(consumed == i + len - 1, "embedded document length drift")',
     'require(consumed <= i + len - 1, "embedded document length drift")',
     WIRE_SUITES),
    ("W6-frame-len", MW, "OP_MSG frame length omits the section-kind byte",
     "val len = 16 + 4 + 1 + doc.length",
     "val len = 16 + 4 + doc.length",
     WIRE_SUITES),
    ("W7-gte-min", MW, "filterDoc: fold multiple _id lower bounds to the MIN (weakest)",
     "val gte = (minId.toSeq ++ startFrom.toSeq).sorted.lastOption",
     "val gte = (minId.toSeq ++ startFrom.toSeq).sorted.headOption",
     WIRE_SUITES),
    ("W8-max-lte", MW, "filterDoc: split upper bound $lt -> $lte (partition overlap duplicates)",
     'maxId.foreach(v => idCond.put("$lt", v))',
     'maxId.foreach(v => idCond.put("$lte", v))',
     WIRE_SUITES),
    ("W9-exec-path", MW, "filterDoc: hardcode top-level execution_id path (marks nest it)",
     "    execIds.foreach { ids =>\n      val in = nf.objectNode()\n      val arr = in.putArray(\"$in\"); ids.foreach(arr.add)\n      f.set[JsonNode](execPath, in)",
     "    execIds.foreach { ids =>\n      val in = nf.objectNode()\n      val arr = in.putArray(\"$in\"); ids.foreach(arr.add)\n      f.set[JsonNode](\"execution_id\", in)",
     WIRE_SUITES),
    ("W10-getmore-drop", MW, "getMore: silently drop the first row of every nextBatch",
     '          buf = cur.get("nextBatch").elements().asScala.toVector',
     '          buf = cur.get("nextBatch").elements().asScala.toVector.drop(1)',
     WIRE_SUITES),
    ("W11-startfrom-min", MSDS, "splitFilters: fold multiple _id >= bounds to the MIN",
     "          startFrom = Some(startFrom.fold(v)(prev =>\n            if (v > prev) v else prev))",
     "          startFrom = Some(startFrom.fold(v)(prev =>\n            if (v > prev) prev else v))",
     WIRE_SUITES),
    ("W12-in-dropped", MSDS, "splitFilters: absorb the IN filter but never record it (dropped predicate)",
     "          execIds = Some(execIds.fold(ids)(_.intersect(ids)))",
     "          execIds = execIds.map(identity)",
     WIRE_SUITES),
    ("W13-ascii-any", MSDS, "isAscii: accept every string (non-ASCII bounds get pushed)",
     "private[sources] def isAscii(s: String): Boolean = s.forall(_ < 0x80)",
     "private[sources] def isAscii(s: String): Boolean = s.forall(_ < 0x10000)",
     WIRE_SUITES),
]

# ---- set 4 (r19 verdict "what's missing" #4): the multimodal
# decoders — the last layer named spec-only. The m-family oracle
# queries DO cover the happy decode paths (m1–m6), so as with set 2
# this measures whether the SPEC gate alone bites; a spec survivor
# the oracle would catch is recorded as such, not left unpinned.
MM = "src/main/scala/graft/multimodal/Multimodal.scala"
MM_SUITES = "graft.MultimodalSpec"

MUTANTS += [
    ("D1-mean-floor", MM, "decodeStub: mean rounding drops the +0.5 (floor, not round)",
     "else math.floor(byteSum * 10000.0 / bytes.length + 0.5).toLong",
     "else math.floor(byteSum * 10000.0 / bytes.length).toLong",
     MM_SUITES),
    ("D2-frames-ceil", MM, "decodeStub: n_frames floor-div -> ceil-div",
     "mean, if (frameStride <= 0) 0 else bytes.length / frameStride)",
     "mean, if (frameStride <= 0) 0 else (bytes.length + frameStride - 1) / frameStride)",
     MM_SUITES),
    ("D3-sign-mask", MM, "sampleFrames: drop the & 0xff (sign-extended high bytes)",
     "(m.media_id, i / stride, m.content(i) & 0xff)",
     "(m.media_id, i / stride, m.content(i).toInt)",
     MM_SUITES),
    ("D4-resize-floor", MM, "resizeStub: ceilDiv -> floor division (0-dim outputs)",
     "def ceilDiv(d: Int) = (d + factor - 1) / factor",
     "def ceilDiv(d: Int) = d / factor",
     MM_SUITES),
    ("D5-png-pad", MM, "encodeGrayPng: pad the last row with 255 instead of 0",
     "if (i < payload.length) payload(i) & 0xff else 0)",
     "if (i < payload.length) payload(i) & 0xff else 255)",
     MM_SUITES),
    ("D6-img-lastcol", MM, "decodeImage: stats loop drops the last pixel column",
     "while (x < w) {\n        val v = raster.getSample(x, y, 0)",
     "while (x < w - 1) {\n        val v = raster.getSample(x, y, 0)",
     MM_SUITES),
    ("D7-audio-endian", MM, "decodeAudio: sample byte order swapped (big-endian decode)",
     "val s = (bytes(i + 1).toInt << 8) | (bytes(i) & 0xff)",
     "val s = (bytes(i).toInt << 8) | (bytes(i + 1) & 0xff)",
     MM_SUITES),
    ("D8-audio-mono-guard", MM, "decodeAudio: drop the mono-channel format guard",
     "require(fmt.getSampleSizeInBits == 16 && fmt.getChannels == 1 &&\n      !fmt.isBigEndian,",
     "require(fmt.getSampleSizeInBits == 16 &&\n      !fmt.isBigEndian,",
     MM_SUITES),
    ("D9-y4m-default-cs", MM, "parseY4mHeader: default colorspace mono instead of 420jpeg",
     'var cs = "420jpeg" // Y4M default when no C tag is present',
     'var cs = "mono" // Y4M default when no C tag is present',
     MM_SUITES),
    ("D10-y4m-422-as-420", MM, "chromaBytes: size C422 like C420 (mid-plane frame walk)",
     'case "422" => 2L * cw * h',
     'case "422" => 2L * cw * ch',
     MM_SUITES),
    ("D11-frame-phase", MM, "sampleVideoFrames: stride phase off by one",
     "if (frame % stride == 0) {",
     "if ((frame + 1) % stride == 0) {",
     MM_SUITES),
    ("D12-resize-crop", MM, "resizeImageNearest: top-left crop instead of subsample",
     "dst.setSample(x, y, 0, src.getSample(x * factor, y * factor, 0))",
     "dst.setSample(x, y, 0, src.getSample(x, y, 0))",
     MM_SUITES),
]

# ---- set 5: the file readers' listing. The globs stop at the slide
# directories and the file name is a reader filter, so nothing but
# the path guard and the name filter keeps the file-level glob's set.
PM = "src/main/scala/graft/pipelines/PathMeta.scala"
SEG = "src/main/scala/graft/pipelines/SegCsvPipeline.scala"
LIST_SUITES = ("graft.SegCsvPipelineSpec graft.HashRepairJobSpec "
               "graft.GeoJsonPipelineSpec graft.FileListingSpec")

MUTANTS += [
    ("L1-nested-files", PM, "filesIn: drop the depth guard (files in subdirectories read)",
     """    df.withColumn("path", decodedInputFileName())
      .filter(pathDepth(col("path")) === depth)""",
     """    df.withColumn("path", decodedInputFileName())""",
     LIST_SUITES),
    ("L2-seg-no-name-filter", SEG, "SegCsvPipeline.read: drop the pathGlobFilter name match",
     '"*-features.csv")', '"*")', LIST_SUITES),
]

# ---- set 6: the mark batching pass. Each group's marks arrive sorted
# and are cut into documents in Scala, so only the specs guard the cut
# and the NULL rendering that format_string used to do.
MMP = "src/main/scala/graft/pipelines/MongoMarksPipeline.scala"
MARKS_SUITES = "graft.MongoMarksPipelineSpec graft.MongoMarksBatchingSpec"

MUTANTS += [
    ("W1-batch-cut", MMP, "batches: cut after batchSize + 1 marks (< -> <=)",
     "while (n < batchSize && marks.hasNext) {",
     "while (n <= batchSize && marks.hasNext) {", MARKS_SUITES),
    ("W2-null-mark-id", MMP, "appendMark: a NULL mark id prints as \"\", not \"null\"",
     'hal:markId \\"").append(r.mark_id)',
     'hal:markId \\"").append(Option(r.mark_id).getOrElse(""))',
     MARKS_SUITES),
]


# ---- set 7: the seg patch assembly. Each task reads whole CSVs and
# walks each file's run of rows into one document in Scala, deriving
# the header from the file's path at its first row, so only the specs
# guard the run boundary, the member separator and the patch parse.
SEG_SUITES = "graft.SegCsvPipelineSpec graft.SegCsvAssemblySpec"

MUTANTS += [
    ("S1-seg-run-by-image", SEG, "patches: a run is the rows of one image directory, not of one file",
     "rs.head.path == first.path",
     "rs.head.path.take(first.path.lastIndexOf('/')) == "
     "first.path.take(first.path.lastIndexOf('/'))",
     SEG_SUITES),
    ("S2-seg-leading-sep", SEG, "patches: write \";\\n\" before the first member too",
     ".append(first.fragment)", '.append(";\\n").append(first.fragment)',
     SEG_SUITES),
    ("S3-seg-three-parts", SEG, "patchOf: a base name of 3 parts is parsed, not the fallback",
     "if (parts.length < 4) None", "if (parts.length < 3) None", SEG_SUITES),
    ("S4-seg-fallback-width", SEG, "patchOf: the fallback width is 0, not 40000",
     "xywh.getOrElse(Array(0L, 0L, 40000L, 40000L))",
     "xywh.getOrElse(Array(0L, 0L, 0L, 40000L))", SEG_SUITES),
]

# ---- set 8: the GeoJSON assembly. Each file's features become members
# inside the row that was read, so only the specs guard the member
# separator, the dominant-class tie-break and the NULL-WKT drop.
GEO = "src/main/scala/graft/pipelines/GeoJsonPipeline.scala"
GEO_SUITES = "graft.GeoJsonPipelineSpec graft.GeoJsonAssemblySpec"

MUTANTS += [
    ("G1-geo-member-sep", GEO, "documents: members joined by \";\" instead of \";\\n\"",
     'concat_ws(";\\n", transform(col("features")',
     'concat_ws(";", transform(col("features")', GEO_SUITES),
    ("G2-geo-tie-ge", GEO, "dominantClass: strict > -> >= (last max wins a tie)",
     'e.getField("value") > acc.getField("prob")',
     'e.getField("value") >= acc.getField("prob")', GEO_SUITES),
    ("G3-geo-keep-null-wkt", GEO, "member: a NULL WKT becomes \"\" (the feature is kept, not dropped)",
     'wktRaw(f.getField("geometry")),',
     'coalesce(wktRaw(f.getField("geometry")), lit("")),', GEO_SUITES),
]


def run(mutant):
    mid, fn, desc, old, new, suites = mutant
    p = REPO / fn
    src = p.read_text()
    n = src.count(old)
    if n != 1:
        return (mid, desc, f"ERROR: pattern x{n}")
    p.write_text(src.replace(old, new))
    try:
        r = subprocess.run(
            ["sbt", "-client", f"testOnly {suites}"], cwd=REPO,
            capture_output=True, text=True, timeout=1800)
        out = r.stdout + r.stderr
        if "error" in out.lower() and "compil" in out.lower() \
                and "Tests:" not in out:
            verdict = "KILLED (compile error)"
        elif r.returncode != 0:
            verdict = "KILLED"
        else:
            verdict = "SURVIVED"
    except subprocess.TimeoutExpired:
        verdict = "KILLED (timeout/hang)"
    finally:
        subprocess.run(["git", "checkout", "--", fn], cwd=REPO)
        # recompile the restored source: target/ otherwise keeps the
        # mutant's bytecode for anything that runs the classes next
        subprocess.run(["sbt", "-client", "Test/compile"], cwd=REPO,
                       capture_output=True, text=True, timeout=1800)
    return (mid, desc, verdict)


def main():
    only = set(sys.argv[1:])
    picked = [m for m in MUTANTS if not only or m[0] in only]
    results = []
    for m in picked:
        res = run(m)
        print(f"{res[0]}: {res[2]}", flush=True)
        results.append(res)
    print("\n| mutant | mutation | verdict |")
    print("|---|---|---|")
    for mid, desc, verdict in results:
        print(f"| {mid} | {desc} | {verdict} |")
    killed = sum(1 for r in results if r[2].startswith("KILLED"))
    print(f"\nkill rate: {killed}/{len(results)}")


if __name__ == "__main__":
    main()
