"""Seeded input generators for the benchmark workloads.

Every generator is a pure function of its seed: the same seed writes the
same bytes. Each returns the figures the correctness checks need
(expected marks, expected files, ...) alongside the input sizes, so the
checks never have to trust the program under test for them.
"""
import csv
import hashlib
import json
import math
import os
import random
import statistics

import pyarrow as pa
import pyarrow.parquet as pq

BATCH_SIZE = 1000  # MongoMarksPipeline.BatchSize
SNOMED = "http://snomed.info/id/"

# marks corpus: marks per image heavy-tailed (lognormal around ~700,
# the shape of the reference's 4B marks over 4M images)
MARK_IMAGES = 64
MARK_TOTAL = 20_000
MARK_FILES = 8

# segmentation tree: slides x patches x nuclei; many small files, so
# the per-file work (listing, opening, committing) outweighs the
# per-job planning and scheduling
SEG_SLIDES = 8
SEG_PATCHES = 40
SEG_NUCLEI = 10
SEG_HASHED_SHARE = 0.75  # share of slides with a slide_hashes.json entry

# GeoSPARQL query tables (TPC-H-shaped, the columns the queries read)
Q_PARTS = 1000
Q_CUSTOMERS = 1000
Q_ORDERS = 6000
Q_LINES_PER_ORDER = (1, 7)
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]


def _dir_bytes(path):
    total = files = 0
    for root, _, names in os.walk(path):
        for n in names:
            total += os.path.getsize(os.path.join(root, n))
            files += 1
    return files, total


def _oid(rng):
    return "%024x" % rng.getrandbits(96)


def _ring(rng, n):
    cx, cy = rng.uniform(0.05, 0.95), rng.uniform(0.05, 0.95)
    r = rng.uniform(0.0005, 0.004)
    pts = []
    for i in range(n):
        a = 2 * math.pi * i / n
        rr = r * rng.uniform(0.7, 1.3)
        pts.append("[%.6f,%.6f]" % (cx + rr * math.cos(a), cy + rr * math.sin(a)))
    if rng.random() < 0.5:
        pts.append(pts[0])  # some rings arrive closed, some open
    return pts


def _image_sizes(images, total):
    """Marks per image at evenly spaced quantiles of the lognormal."""
    dist = statistics.NormalDist(math.log(700), 0.9)
    raw = [math.exp(dist.inv_cdf((i + 0.5) / images)) for i in range(images)]
    scale = total / sum(raw)
    sizes = [max(20, int(x * scale)) for x in raw]
    sizes[0] += total - sum(sizes)  # exact total; image 0 absorbs rounding
    return sizes


def marks(seed, out_dir, images=MARK_IMAGES, total=MARK_TOTAL):
    """Mongo `mark` + `analysis` documents as JSONL
    (MongoMarksPipeline.markSchema / analysisSchema) and a
    slide_hashes.json for the analysis side's hash lookup.

    The seed draws the marks (geometry, validity, properties, ids); the
    images (their ids and sizes) are the same for every seed. The
    per-image window and the batch grouping hash-partition on the
    image's keys, so seeded keys would move whole images between the
    shuffle partitions and change the longest task from seed to seed."""
    rng = random.Random(seed)
    os.makedirs(os.path.join(out_dir, "marks"))
    sizes = _image_sizes(images, total)
    analyses, hashes, docs = [], [], []
    emitted, files = 0, 0
    for k, n in enumerate(sizes):
        exec_id = "exec-%02d" % k
        image_id = "TCGA-%02d-%04d-01Z-00-DX%d" % (k % 90, k * 7919 % 10000, k)
        slide = "slide-%02d" % k
        analyses.append({
            "_id": hashlib.sha256(b"analysis-%d" % k).hexdigest()[:24],
            "analysis": {"execution_id": exec_id, "algorithm_params": {
                "image_width": 20000 + k * 1553 % 100000,
                "image_height": 20000 + k * 2371 % 100000,
                "case_id": "case-%d" % k if k % 7 else ""}},
            "image": {"imageid": image_id, "subject": "subj-%d" % (k // 3),
                      "study": "study-%d" % (k % 4), "slide": slide}})
        if k % 10:
            hashes.append({"slide": slide,
                           "hash": hashlib.sha256(slide.encode()).hexdigest()})
        valid = 0
        prov = ('"provenance":{"analysis":{"execution_id":"%s"},"image":'
                '{"imageid":"%s","slide":"%s"}}' % (exec_id, image_id, slide))
        for _ in range(n):
            u = rng.random()
            gtype, ring = "Polygon", _ring(rng, rng.randint(4, 12))
            if u < 0.015:
                gtype = "MultiPolygon"  # not a Polygon: dropped
            elif u < 0.03:
                ring[rng.randrange(len(ring))] = "[0.5]"  # degenerate point: dropped
            else:
                valid += 1
            ann = SNOMED + "108369006" if rng.random() < 0.97 else "http://example.org/ann/%d" % k
            nt = rng.choice(["tumor.ep.1", "lymph", "", "stroma.fib.2"])
            docs.append(
                '{"_id":"%s",%s,"geometries":{"features":[{"geometry":{"type":"%s",'
                '"coordinates":[[%s]]},"properties":{"footprint":%.2f,"nucleustype":"%s"}}]},'
                '"userUpdate":{"mark":{"annotation":[{"annotationID":"%s"}]}}}\n' % (
                    _oid(rng), prov, gtype, ",".join(ring), rng.uniform(5, 400), nt, ann))
        emitted += valid
        files += -(-valid // BATCH_SIZE)
    rng.shuffle(docs)
    for i in range(MARK_FILES):
        with open(os.path.join(out_dir, "marks", "part-%02d.json" % i), "w") as f:
            f.writelines(docs[i::MARK_FILES])
    with open(os.path.join(out_dir, "analyses.json"), "w") as f:
        for a in analyses:
            f.write(json.dumps(a, separators=(",", ":")) + "\n")
    with open(os.path.join(out_dir, "slide_hashes.json"), "w") as f:
        json.dump(hashes, f, indent=1)
    n_files, n_bytes = _dir_bytes(out_dir)
    return {"expect_marks": total, "expect_emitted": emitted, "expect_files": files,
            "input": {"rows": total + images, "files": n_files,
                      "bytes": n_bytes}}


def _colon_polygon(rng):
    x, y = rng.randrange(0, 4000), rng.randrange(0, 4000)
    pts = []
    for _ in range(rng.randint(4, 10)):
        pts += [x + rng.randrange(-12, 13), y + rng.randrange(-12, 13)]
    return "[" + ":".join(str(p) for p in pts) + "]"


def seg(seed, out_dir, slides=SEG_SLIDES, patches=SEG_PATCHES):
    """Nuclear-segmentation CSV tree (SegCsvPipeline.read's glob layout)
    plus the slide_hashes.json HashRepairJob reads."""
    rng = random.Random(seed)
    base = os.path.join(out_dir, "seg")
    hashes, nuclei, hashed_patches = [], 0, 0
    for s in range(slides):
        cancer = rng.choice(["blca", "brca", "luad", "prad"])
        slide = "TCGA-%02d-%04d-01Z-00-DX1" % (s, rng.randrange(10000))
        leaf = os.path.join(base, "%s_polygon" % cancer, "%s.svs.tar.gz" % slide,
                            "%s_polygon" % cancer, "%s.svs" % slide)
        os.makedirs(leaf)
        if s < slides * SEG_HASHED_SHARE:
            # a hash that differs from the pipeline's sha2(image name),
            # upper-case as the reference's file may hold it
            hashes.append({"slide": slide + ".svs", "hash": hashlib.sha256(
                ("scanner:" + slide).encode()).hexdigest().upper()})
            hashed_patches += patches
        for p in range(patches):
            name = "%d_%d_4000_4000_0.2525_%d-features.csv" % (
                (p % 8) * 4000, (p // 8) * 4000, rng.randrange(1, 9))
            with open(os.path.join(leaf, name), "w", newline="") as f:
                w = csv.writer(f)
                w.writerow(["AreaInPixels", "PhysicalSize", "Polygon"])
                for i in range(SEG_NUCLEI):
                    area = rng.randrange(20, 900)
                    phys = "%.4f" % (area * 0.0637) if rng.random() < 0.95 else ""
                    # a few rows carry no polygon: the pipeline drops them
                    poly = _colon_polygon(rng) if i == 0 or rng.random() < 0.97 else ""
                    nuclei += bool(poly)
                    w.writerow([area, phys, poly])
    with open(os.path.join(out_dir, "slide_hashes.json"), "w") as f:
        json.dump(hashes, f, indent=1)
    n_files, n_bytes = _dir_bytes(out_dir)
    return {"expect_nuclei": nuclei, "expect_files": slides * patches,
            "expect_repaired": hashed_patches,
            "input": {"rows": slides * patches * SEG_NUCLEI,
                      "files": n_files, "bytes": n_bytes}}


def tables(seed, out_dir):
    """TPC-H-shaped parquet tables holding the columns the traced run's
    queries read, with the testdata's physical types."""
    rng = random.Random(seed)
    os.makedirs(out_dir, exist_ok=True)

    def write(name, cols):
        pq.write_table(pa.table(cols), os.path.join(out_dir, name + ".parquet"))

    write("region", {"r_regionkey": pa.array(range(5), pa.int32()),
                     "r_name": ["R%d" % i for i in range(5)]})
    write("nation", {"n_nationkey": pa.array(range(25), pa.int32()),
                     "n_name": ["N%d" % i for i in range(25)],
                     "n_regionkey": pa.array([rng.randrange(5) for _ in range(25)], pa.int32())})
    write("part", {"p_partkey": pa.array(range(1, Q_PARTS + 1), pa.int64())})
    write("customer", {
        "c_custkey": pa.array(range(1, Q_CUSTOMERS + 1), pa.int64()),
        "c_nationkey": pa.array([rng.randrange(25) for _ in range(Q_CUSTOMERS)], pa.int32()),
        "c_acctbal": pa.array([round(rng.uniform(-999.99, 9999.99), 2)
                               for _ in range(Q_CUSTOMERS)], pa.float64())})
    okeys = [4 * i + rng.randrange(4) + 1 for i in range(Q_ORDERS)]
    write("orders", {
        "o_orderkey": pa.array(okeys, pa.int64()),
        "o_custkey": pa.array([rng.randrange(1, Q_CUSTOMERS + 1) for _ in okeys], pa.int64()),
        "o_orderpriority": [rng.choice(PRIORITIES) for _ in okeys]})
    lo, lp = [], []
    for o in okeys:
        for _ in range(rng.randint(*Q_LINES_PER_ORDER)):
            lo.append(o)
            lp.append(rng.randrange(1, Q_PARTS + 1))
    write("lineitem", {"l_orderkey": pa.array(lo, pa.int64()),
                       "l_partkey": pa.array(lp, pa.int64())})
    n_files, n_bytes = _dir_bytes(out_dir)
    rows = 5 + 25 + Q_PARTS + Q_CUSTOMERS + Q_ORDERS + len(lo)
    return {"input": {"rows": rows, "files": n_files, "bytes": n_bytes}}
