package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables

/** Training-data-pipeline text operators over the `documents` table:
  * tokenization/quality/language-ID/fingerprinting plus the dedup
  * family (exact, n-gram Jaccard, MinHash+LSH, SimHash).
  *
  * Every score that leaves the engine is an integer (`*_e2`/`*_e4` =
  * value scaled by 10^2/10^4, half-up) computed with IEEE double ops in
  * the same order as the DuckDB oracle, so the driver's hash compare is
  * exact — no float column ever reaches the output schema.
  *
  * Scale notes (100 TB): every query here is a scan → narrow transform →
  * partial-agg shuffle; the only self-joins are (a) shingle-inverted-
  * index joins whose key cardinality grows with corpus size (so per-key
  * fan-out stays bounded) and (b) LSH band buckets, which is the point
  * of LSH. Nothing collects to the driver.
  */
object TextDedupQueries {
  private def docs(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "documents")

  /** Whitespace tokens, empties dropped (F-class token counting). */
  private val tokensSql = MinHashLsh.tokensSql("text")

  /** The x2 quality score appended to a documents frame: columns
    * `w` (tokens), `n_tokens`, `n_uniq`, `stop_cnt`, `score_e4`
    * added; empty documents dropped. ONE definition shared by the
    * x2, x14 and x25 faces, so "quality order" cannot drift between
    * them. */
  def qualityScored(df: DataFrame): DataFrame =
    df.withColumn("w", expr(tokensSql))
      .filter(size(col("w")) > 0) // divide-by-zero guard (oracle too)
      .withColumn("n_tokens", size(col("w")).cast("long"))
      .withColumn("n_uniq", size(array_distinct(col("w"))).cast("long"))
      .withColumn("stop_cnt",
        expr("cast(size(filter(w, t -> t IN ('the', 'a'))) as bigint)"))
      .withColumn("score_e4",
        expr("""cast(floor((0.5 * n_uniq / n_tokens
               | + 0.3 * (1.0 - stop_cnt / cast(n_tokens as double))
               | + 0.2 * least(1.0, n_tokens / 100.0)) * 10000 + 0.5)
               | as bigint)""".stripMargin))

  /** MinHash machinery lives in the reusable `MinHashLsh` operator;
    * the aliases below keep this file's queries and ORACLE strings on
    * the exact constants the operator embeds. */
  private val P = MinHashLsh.P
  private def shingleHash(c: String) = MinHashLsh.md5Hash(c)
  private val perms = MinHashLsh.perms

  /** d2's default stop-shingle ceiling: shingles appearing in more
    * than DfCap docs of a source are dropped from the inverted index
    * (they carry no dedup signal and cost df²/2 pairs on one shuffle
    * key). Tunable per call via `ngramJaccardPairs(dfCap = …)`; the
    * SEMANTIC consequences (conservative-union undercount) are
    * documented there and in MIGRATION.md. Note the cap is applied to
    * xxhash64(shingle) buckets — a 64-bit collision merging two
    * shingles of one source could (at ~2^-64 odds) push a merged
    * bucket past the cap; accepted. */
  val DfCap = 20

  /** x12's probe query + BM25 params (defaults of `Bm25.topDocs`);
    * shared between the engine call and the oracle so the
    * interpolated double literals are character-identical. */
  private val Bm25Terms = Seq("hash", "join", "stream", "window")
  private val BmK1 = 1.2
  private val BmB = 0.75

  private def lshCandidatePairs(s: SparkSession, dir: String): DataFrame =
    MinHashLsh.candidatePairs(docs(s, dir), "doc_id", "text")

  private def bucketPairs(xs: String): String = MinHashLsh.bucketPairs(xs)

  /** SimHash signature (shared by d5/d6): per-bit ±1 balance folded
    * into the 16-bit fingerprint — spelled as ONE aggregate over the
    * token stream with PACKED bit counters (r22, guide §2.3/§4
    * "aggregate before you shuffle; codegen-friendly expressions").
    *
    * Each token hash contributes its 16 bits into 8 longs of two
    * 32-bit lanes (lane b%2 of long b/2 holds bit b's ones-count);
    * a groupBy(doc) sums the 8 packed longs plus the token count n.
    * bal_b = 2·cnt_b − n, so bit b sets iff 2·cnt_b > n — identical
    * tie rule (bal = 0 → 0) to the former ±1 spelling. EXACTNESS:
    * tokens per doc < 2^31 (a doc is one Spark string), so each
    * 32-bit lane's count < 2^31 never carries into its neighbor, and
    * the high lane's sum < 2^31·2^32 = 2^63 never overflows the
    * signed long.
    *
    * Why packed: the r13-era spelling exploded 16 (h, b) rows per
    * token through the first hash aggregate — 16 hash-map probes per
    * token for one ±1 add each (the bench sampler put d6's time in
    * UnsafeFixedWidthAggregationMap probes); a 16-separate-sums
    * variant (17-column buffer) was ALSO tried and measured ~1.8×
    * slower than the explode. The packed form keeps the buffer at 9
    * longs and does one probe per token with 8 shift-mask adds —
    * measured (interleaved A/B, sf0.1/32c, min-of-2) d6 1.21×,
    * d6c 1.53×, d5 1.05×; same rows, same oracle hashes. */
  private def simhashSig(d: DataFrame, withSource: Boolean): DataFrame = {
    val keys = if (withSource) Seq("doc_id", "source") else Seq("doc_id")
    val th = d.select(keys.map(col) :+ explode(expr(tokensSql)).as("tok"): _*)
      .withColumn("h", expr(shingleHash("tok")))
    // packed per-token contribution: long j carries bits 2j (low
    // lane) and 2j+1 (high lane)
    val packs = (0 until 8).map { j =>
      sum(expr(s"(shiftright(h, ${2 * j}) & 1) + " +
        s"shiftleft(shiftright(h, ${2 * j + 1}) & 1, 32)")).as(s"p$j")
    }
    val counted = th.groupBy(keys.map(col): _*)
      .agg(packs.head, packs.tail :+ count(lit(1)).as("n"): _*)
    val fold = (0 until 16).map { b =>
      val lane = b / 2
      val off = (b % 2) * 32
      s"(CASE WHEN 2 * (shiftright(p$lane, $off) & 4294967295L) > n " +
        s"THEN ${1L << b}L ELSE 0L END)"
    }.mkString(" + ")
    counted.select(keys.map(col) :+ expr(fold).as("simhash"): _*)
  }

  /** SimHash near-dup candidate pairs (the d6 plan, reusable):
    * band-bucketed generation — the 16-bit fingerprint splits into
    * 4 × 4-bit bands; by pigeonhole Hamming ≤ 3 means at most 3
    * bands differ, so every qualifying pair shares ≥ 1 band EXACTLY
    * and is provably found. Bucket key = (source, band, value):
    * cardinality grows with the corpus, never a whole source block
    * in one aggregation buffer. A pair colliding in several bands is
    * emitted once per collision → distinct() on the (deterministic)
    * output triple.
    *
    * `bucketCap` is the OPT-IN pair-blowup lever (BASELINE.md's d6
    * ladder documents pair volume as corpus collision structure, not
    * plan shape): keep only the `cap` LOWEST (doc_id, simhash)
    * entries per bucket before pairing, bounding every bucket at
    * cap·(cap−1)/2 pairs — and, because the cap routes through the
    * GroupedTopK heap rather than a post-hoc slice, the per-bucket
    * AGGREGATION BUFFER is bounded at cap entries too, never the
    * whole collision block. Deterministic (keep-lowest is a total
    * order; doc_id is unique per bucket) but LOSSY: an evicted doc
    * can only pair through its other 3 bands, so capped output is a
    * SUBSET of the uncapped output. Stays None unless the corpus'
    * collision structure demands it. */
  def simhashPairs(d: DataFrame, bucketCap: Option[Int] = None)
    : DataFrame = {
    bucketCap.foreach(c => require(c >= 2,
      s"bucketCap must be >= 2 to ever emit a pair, got $c"))
    val sig = simhashSig(d, withSource = true)
    val banded = sig.select(col("doc_id"), col("source"), col("simhash"),
        explode(expr("sequence(0, 3)")).as("band"))
      .withColumn("bv", expr("shiftright(simhash, band * 4) & 15"))
    val capped = bucketCap.fold(banded) { c =>
      val withOrd = banded.withColumn("_ord",
        struct(col("doc_id").as("d"), col("simhash").as("sh")))
      graft.plans.GroupedTopK.topK(withOrd,
          Seq("source", "band", "bv"), "_ord", c, descending = false)
        .drop("_ord")
    }
    capped.groupBy(col("source"), col("band"), col("bv"))
      .agg(sort_array(collect_list(struct(col("doc_id"),
        col("simhash")))).as("xs"))
      .filter(size(col("xs")) >= 2)
      .select(explode(expr(bucketPairs("xs"))).as("p"))
      .select(col("p.a.doc_id").as("doc_a"),
        col("p.b.doc_id").as("doc_b"),
        expr("cast(bit_count(p.a.simhash ^ p.b.simhash) as bigint)")
          .as("hamming"))
      .filter(col("hamming") <= 3)
      .distinct()
  }

  /** Shared oracle CTE prefix for token/shingle queries. */
  private val oracleToks =
    """WITH toks AS (
      |  SELECT doc_id, source, lang,
      |    list_filter(string_split(text, ' '), t -> t <> '') AS w
      |  FROM documents)""".stripMargin
  private val oracleShingled =
    oracleToks + """,
      |sh AS (
      |  SELECT doc_id, source,
      |    list_distinct(list_transform(range(1, len(w) - 1),
      |      i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS shingles
      |  FROM toks WHERE len(w) >= 3)""".stripMargin
  private def oracleShingleHash(c: String) =
    s"('0x' || substr(md5($c), 1, 15))::BIGINT % $P"
  private val oracleMinhash = oracleShingled + s""",
      |hx AS (SELECT doc_id, ${oracleShingleHash("unnest(shingles)")} AS h
      |       FROM sh),
      |sig AS (SELECT doc_id,
      |${perms.zipWithIndex.map { case ((a, b), i) =>
          s"  min((h * $a + $b) % $P) AS mh$i" }.mkString(",\n")}
      |FROM hx GROUP BY 1)""".stripMargin
  private val oracleMinhashSrc = oracleShingled + s""",
      |hx AS (SELECT doc_id, source,
      |  ${oracleShingleHash("unnest(shingles)")} AS h FROM sh),
      |sig AS (SELECT doc_id, source,
      |${perms.zipWithIndex.map { case ((a, b), i) =>
          s"  min((h * $a + $b) % $P) AS mh$i" }.mkString(",\n")}
      |FROM hx GROUP BY 1, 2)""".stripMargin

  /** Shared BPE-induction oracle CTEs (appended to `oracleToks`):
    * char split s0, three rounds of pair counts p1–p3 with the
    * learned merges b1/b2 applied via the straight-line list_reduce
    * fold (s1, s2) — x16 reports from p1–p3, x17 tokenizes one merge
    * further. The fold is deliberately a DIFFERENT algorithm than the
    * engine's boundary-encoded replace, so the two sides verify each
    * other. */
  private val oracleBpeChain = """,
      |s0 AS (SELECT regexp_extract_all(unnest(w), '.') AS s FROM toks),
      |p1 AS (
      |  SELECT u.a AS a, u.b AS b, count(*) AS cnt FROM (
      |    SELECT unnest(list_transform(range(1, len(s)),
      |      i -> {'a': s[i], 'b': s[i + 1]})) AS u
      |    FROM s0 WHERE len(s) >= 2)
      |  GROUP BY 1, 2),
      |b1 AS (SELECT a, b FROM p1
      |  QUALIFY row_number() OVER (ORDER BY cnt DESC, a, b) = 1),
      |s1 AS (
      |  SELECT list_reduce(list_transform(s0.s, c -> [c]),
      |    (acc, x) -> CASE
      |      WHEN len(acc) > 0 AND acc[-1] = b1.a AND x[1] = b1.b
      |      THEN list_append(acc[1:len(acc)-1], b1.a || b1.b)
      |      ELSE list_append(acc, x[1]) END) AS s
      |  FROM s0 CROSS JOIN b1),
      |p2 AS (
      |  SELECT u.a AS a, u.b AS b, count(*) AS cnt FROM (
      |    SELECT unnest(list_transform(range(1, len(s)),
      |      i -> {'a': s[i], 'b': s[i + 1]})) AS u
      |    FROM s1 WHERE len(s) >= 2)
      |  GROUP BY 1, 2),
      |b2 AS (SELECT a, b FROM p2
      |  QUALIFY row_number() OVER (ORDER BY cnt DESC, a, b) = 1),
      |s2 AS (
      |  SELECT list_reduce(list_transform(s1.s, c -> [c]),
      |    (acc, x) -> CASE
      |      WHEN len(acc) > 0 AND acc[-1] = b2.a AND x[1] = b2.b
      |      THEN list_append(acc[1:len(acc)-1], b2.a || b2.b)
      |      ELSE list_append(acc, x[1]) END) AS s
      |  FROM s1 CROSS JOIN b2),
      |p3 AS (
      |  SELECT u.a AS a, u.b AS b, count(*) AS cnt FROM (
      |    SELECT unnest(list_transform(range(1, len(s)),
      |      i -> {'a': s[i], 'b': s[i + 1]})) AS u
      |    FROM s2 WHERE len(s) >= 2)
      |  GROUP BY 1, 2)""".stripMargin

  /** d2 as a reusable operator: n-gram (3-shingle) Jaccard near-dup
    * pairs over a (doc_id, source, text) frame.
    *
    * Inverted index as group-into-buckets: bucket key = (source,
    * xxhash64(shingle)) — shingles are hashed INSIDE the building
    * transform so no string array ever materializes, and the
    * explode/shuffle carries 8-byte longs only.
    *
    * `dfCap` is the stop-shingle ceiling: shingles with document
    * frequency > dfCap are dropped from the index — the standard
    * stop-shingle rule: a shingle shared by B docs yields B²/2 pairs
    * on ONE shuffle key, and a stop-shingle carries no dedup signal
    * anyway. SEMANTICS (also in MIGRATION.md): `shared` counts only
    * kept shingles while the union denominator keeps full per-doc
    * shingle counts, so jacc_e4 is a conservative UNDERESTIMATE for
    * pairs whose overlap includes stop-shingles — a pair overlapping
    * mostly in high-df shingles can fall below `minJaccE4`. Raise
    * dfCap toward ∞ to recover exact Jaccard at the cost of hot-key
    * blowup. The d3/d4 MinHash-LSH path is the production route at
    * 100 TB either way. */
  def ngramJaccardPairs(docsDf: DataFrame, dfCap: Int,
    minJaccE4: Long = 200L): DataFrame =
    sharedShingleCounts(docsDf, dfCap)
      .withColumn("jacc_e4", expr(
        "cast(floor(shared * 10000.0 / (na + nb - shared) + 0.5) as bigint)"))
      .filter(col("jacc_e4") >= minJaccE4)
      .select("doc_a", "doc_b", "shared", "jacc_e4")
      .orderBy("doc_a", "doc_b")

  /** Asymmetric CONTAINMENT pairs: shared / min(|A|, |B|) — how much
    * of the SMALLER document's shingle set the pair shares. Catches
    * snippet reuse and near-supersets that symmetric Jaccard dilutes
    * away (a 50-shingle doc fully embedded in a 5000-shingle doc has
    * jacc ≈ 0.01 but containment = 1.0). Same inverted-index
    * machinery, same dfCap trade as [[ngramJaccardPairs]]. */
  def ngramContainmentPairs(docsDf: DataFrame, dfCap: Int,
    minContE4: Long = 5000L): DataFrame =
    sharedShingleCounts(docsDf, dfCap)
      .withColumn("cont_e4", expr(
        "cast(floor(shared * 10000.0 / least(na, nb) + 0.5) as bigint)"))
      .filter(col("cont_e4") >= minContE4)
      .select("doc_a", "doc_b", "shared", "cont_e4")
      .orderBy("doc_a", "doc_b")

  /** Candidate pairs with shared-shingle counts — the common core of
    * the Jaccard and containment faces: (doc_a, doc_b, shared, na,
    * nb) for every same-source pair colliding on ≥ 1 sub-cap
    * shingle bucket. */
  private def sharedShingleCounts(docsDf: DataFrame, dfCap: Int)
    : DataFrame = {
    require(dfCap >= 2, s"dfCap must be >= 2, got $dfCap")
    // persisted BEFORE the explode (Broadcasting.track registry —
    // releaseAll() reclaims): with the expensive shingle array in the
    // generator child, InferFiltersFromGenerate clones it into
    // size/isnotnull predicates that re-hash every document 2× more
    // per row (and re-tokenize 6×) — measured 5× on this query. The
    // cache materializes the array once; the inferred filter then
    // reads cached values instead of re-deriving them.
    val hashed = Broadcasting.track(docsDf
      .withColumn("w", expr(tokensSql))
      .filter(size(col("w")) >= 3)
      .withColumn("hs", expr(
        """if(size(w) < 3, array(),
          | array_distinct(transform(sequence(1, size(w) - 2),
          |  i -> xxhash64(concat(element_at(w, i), ' ',
          |    element_at(w, i + 1), ' ', element_at(w, i + 2))))))"""
          .stripMargin))
      .select(col("doc_id"), col("source"),
        size(col("hs")).cast("long").as("n"), col("hs"))
      .persist())
    val ex = hashed.select(col("doc_id"), col("source"), col("n"),
      explode(col("hs")).as("sh_h"))
    val buckets = ex.groupBy(col("source"), col("sh_h"))
      .agg(sort_array(collect_list(struct(col("doc_id"), col("n"))))
        .as("xs"))
      .filter(size(col("xs")).between(2, dfCap))
    buckets
      .select(explode(expr(bucketPairs("xs"))).as("p"))
      .select(col("p.a.doc_id").as("doc_a"), col("p.a.n").as("na"),
        col("p.b.doc_id").as("doc_b"), col("p.b.n").as("nb"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(count(lit(1)).as("shared"), max("na").as("na"),
        max("nb").as("nb"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---- text analysis ---------------------------------------------------
    // Token counting (whitespace), type/token stats. Narrow map, no shuffle
    // beyond the final orderBy.
    "x1_token_count" -> ((s, dir) => {
      docs(s, dir)
        .withColumn("w", expr(tokensSql))
        .filter(size(col("w")) > 0) // divide-by-zero guard (oracle too)
        .select(col("doc_id"),
          size(col("w")).cast("long").as("n_tokens"),
          size(array_distinct(col("w"))).cast("long").as("n_uniq"),
          expr("""cast(floor(aggregate(w, 0L, (a, t) -> a + length(t))
                 | * 100.0 / size(w) + 0.5) as bigint)""".stripMargin)
            .as("avg_tok_len_e2"))
        .orderBy("doc_id")
    }),

    // BPE-style pre-tokenization count: letter runs / digits /
    // punctuation as separate tokens (the GPT-2 pre-tokenizer shape,
    // simplified to a regex both engines interpret identically).
    "x5_bpe_tokens" -> ((s, dir) => {
      docs(s, dir)
        .select(col("doc_id"),
          expr("""cast(size(regexp_extract_all(text,
                 | '[a-zA-Z]+|[0-9]|[^a-zA-Z0-9 ]', 0)) as bigint)"""
            .stripMargin).as("n_bpe_tokens"),
          expr("cast(size(regexp_extract_all(text, '[0-9]', 0)) as bigint)")
            .as("n_digits"))
        .orderBy("doc_id")
    }),

    // Quality scoring: type-token ratio, stopword ratio, length norm —
    // the heuristics a pretraining filter applies per document.
    "x2_quality_score" -> ((s, dir) => {
      qualityScored(docs(s, dir))
        .select("doc_id", "n_tokens", "stop_cnt", "score_e4")
        .orderBy("doc_id")
    }),

    // Token-budget corpus fill: per source, admit documents in
    // quality order (the x2 score, ties by doc_id) until a fixed
    // token budget fills — "give me the best 5k tokens from every
    // source", the mixture-construction step after filtering. The
    // cumulative sum is monotone along the quality order, so the
    // `cum <= B` filter IS the take-while prefix (an overflowing doc
    // and everything below it drop). Plan: ONE window shuffle keyed
    // by source — the running constraint is sequential per source by
    // definition, and sources parallelize; nothing global.
    "x25_budget_fill" -> ((s, dir) => {
      val w = Window.partitionBy(col("source"))
        .orderBy(col("score_e4").desc, col("doc_id").asc)
      qualityScored(docs(s, dir))
        .withColumn("cum", sum(col("n_tokens")).over(w))
        .filter(col("cum") <= 5000L)
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_selected"),
          max(col("cum")).as("tokens_used"),
          min(col("score_e4")).as("quality_bar"),
          sum(col("doc_id")).as("sum_ids"))
        .orderBy("source")
    }),

    // Language ID via marker-word scoring (n-gram-heuristic stand-in);
    // deterministic priority tie-break, compared against the labeled lang.
    "x3_lang_id" -> ((s, dir) => {
      docs(s, dir)
        .withColumn("w", expr(tokensSql))
        .withColumn("s_en", expr("size(filter(w, t -> t IN ('the', 'a')))"))
        .withColumn("s_es", expr("size(filter(w, t -> t IN ('el', 'la')))"))
        .withColumn("s_de", expr("size(filter(w, t -> t IN ('der', 'die')))"))
        .withColumn("s_fr", expr("size(filter(w, t -> t IN ('le', 'les')))"))
        .withColumn("s_zh", expr("size(filter(w, t -> t IN ('的')))"))
        .withColumn("predicted", expr(
          """CASE WHEN greatest(s_en, s_es, s_de, s_fr, s_zh) = 0 THEN 'und'
            | WHEN s_en >= s_es AND s_en >= s_de AND s_en >= s_fr
            |  AND s_en >= s_zh THEN 'en'
            | WHEN s_es >= s_de AND s_es >= s_fr AND s_es >= s_zh THEN 'es'
            | WHEN s_de >= s_fr AND s_de >= s_zh THEN 'de'
            | WHEN s_fr >= s_zh THEN 'fr' ELSE 'zh' END""".stripMargin))
        .groupBy(col("lang"), col("predicted"))
        .agg(count(lit(1)).as("n_docs"))
        .orderBy("lang", "predicted")
    }),

    // Document fingerprint: order-sensitive rolling hash (mod prime) over
    // the raw character stream — dedup key robust to storage layout.
    "x4_fingerprint" -> ((s, dir) => {
      docs(s, dir)
        .select(col("doc_id"),
          expr(s"""aggregate(
                  | transform(sequence(1, length(text)),
                  |   i -> ascii(substring(text, i, 1))),
                  | 0L, (a, b) -> (a * 31 + b) % $P)""".stripMargin)
            .as("fingerprint"))
        .orderBy("doc_id")
    }),

    // ---- dedup -----------------------------------------------------------
    // Exact dedup: content-hash group sizes (the survivors histogram).
    "d1_exact_dedup" -> ((s, dir) => {
      docs(s, dir)
        .groupBy(sha2(col("text"), 256).as("h"))
        .agg(count(lit(1)).as("group_size"))
        .groupBy(col("group_size")).agg(count(lit(1)).as("n_groups"))
        .orderBy("group_size")
    }),

    // n-gram Jaccard near-dup: inverted-index self-join on (source,
    // shingle) — the scalable explode-join pattern (never a cross join);
    // per-key fan-out is bounded by docs-per-shingle (dfCap).
    "d2_ngram_jaccard" -> ((s, dir) =>
      ngramJaccardPairs(docs(s, dir), dfCap = DfCap)),

    // Asymmetric containment: shared / min(|A|,|B|) over the same
    // shingle inverted index as d2 — catches a small doc embedded in
    // a big one, which symmetric Jaccard dilutes below any usable
    // threshold (the snippet-reuse / quote-farm signal).
    "d11_containment" -> ((s, dir) =>
      ngramContainmentPairs(docs(s, dir), dfCap = DfCap,
        minContE4 = 2000L)),

    // MinHash signatures (8 perms over 60-bit shingle hashes).
    "d3_minhash_sig" -> ((s, dir) =>
      MinHashLsh.signatures(docs(s, dir), "doc_id", "text")
        .orderBy("doc_id")),

    // LSH banding over the minhash signature: 4 bands × 2 rows; candidate
    // pairs = docs colliding in ≥1 band. At 100 TB this is THE dedup
    // join — band-bucket cardinality scales with corpus, not pairs².
    "d4_lsh_pairs" -> ((s, dir) =>
      lshCandidatePairs(s, dir).orderBy("doc_a", "doc_b")),

    // The capped face of the band-bucket generator (the d6c lever
    // applied to MinHash-LSH): keep-lowest-4 per band bucket through
    // the GroupedTopK heap; the oracle replicates the cap exactly,
    // pinning the lossy contract (including the both-survived
    // n_shared_bands semantics) end to end.
    "d4c_lsh_capped" -> ((s, dir) =>
      MinHashLsh.candidatePairs(docs(s, dir), "doc_id", "text",
          bucketCap = Some(4))
        .orderBy("doc_a", "doc_b")),

    // SimHash: 16-bit sign-aggregate fingerprint per doc; plan shape
    // and its rationale live on `simhashSig` (shared with d6).
    "d5_simhash_sig" -> ((s, dir) =>
      simhashSig(docs(s, dir), withSource = false).orderBy("doc_id")),

    // SimHash near-dup pairs: Hamming distance ≤ 3 within a source
    // block. Plan shape and rationale live on [[simhashPairs]].
    "d6_simhash_pairs" -> ((s, dir) =>
      simhashPairs(docs(s, dir)).orderBy("doc_a", "doc_b")),

    // The capped face of the same generator (BASELINE.md's documented
    // d6 mitigation as a pullable lever): keep-lowest-4 per hamming
    // bucket through the GroupedTopK heap. The oracle replicates the
    // band/cap semantics exactly (row_number keep-lowest), so the
    // hash compare pins the lossy contract, not just the happy path.
    "d6c_simhash_capped" -> ((s, dir) =>
      simhashPairs(docs(s, dir), bucketCap = Some(4))
        .orderBy("doc_a", "doc_b")),

    // Deterministic hash sampling (Sampling.byHash): the selected set
    // is a pure function of doc_id — stable across partitionings,
    // retries, and engines, unlike df.sample's per-partition RNG.
    "x6_hash_sample" -> ((s, dir) =>
      Sampling.byHash(docs(s, dir), "doc_id", 0.10)
        .select(col("doc_id"), col("lang"))
        .orderBy("doc_id")),

    // Stratified variant: a per-language training-mix spec (en kept
    // at 25%, de 50%, zh 100%, everything else dropped).
    "x7_stratified_sample" -> ((s, dir) =>
      Sampling.stratifiedByHash(docs(s, dir), "doc_id", "lang",
        Map("en" -> 0.25, "de" -> 0.5, "zh" -> 1.0))
        .groupBy(col("lang")).agg(count(lit(1)).as("cnt"))
        .orderBy("lang")),

    // Deterministic global shuffle into training shards: (shard, pos)
    // are content hashes of doc_id — a uniform permutation that is
    // identical across runs/partitionings/retries and replayable by
    // the oracle, unlike orderBy(rand()).
    "x9_shuffle_shards" -> ((s, dir) =>
      Shards.assign(docs(s, dir), "doc_id", nShards = 8)
        .select(col("doc_id"), col("shard"), col("pos"))
        .orderBy("shard", "pos", "doc_id")),

    // Tokenizer-vocabulary coverage: fix a vocabulary = the top-10
    // terms by corpus frequency (cnt desc, term asc — a fully
    // deterministic cutoff), then measure per-language what fraction
    // of token OCCURRENCES the vocabulary covers — the OOV-rate
    // check a training pipeline runs before committing to a
    // tokenizer. Plan at 100 TB: one corpus shuffle for term totals,
    // TakeOrdered for the cutoff (never a global sort), vocabulary
    // BROADCAST back over the token stream (no second corpus
    // shuffle — the per-lang count is a partial agg on lang). The
    // e6 ratio is one IEEE double divide, identical on both engines.
    "x21_vocab_coverage" -> ((s, dir) => {
      val toks = docs(s, dir)
        .select(col("lang"), explode(expr(tokensSql)).as("term"))
      val vocab = toks.groupBy(col("term"))
        .agg(count(lit(1)).as("cnt"))
        .orderBy(col("cnt").desc, col("term").asc)
        .limit(10)
        .select(col("term").as("v_term"))
      toks.join(broadcast(vocab), toks("term") === col("v_term"),
          "left")
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("total_tokens"),
          count(col("v_term")).as("covered_tokens"))
        .select(col("lang"), col("total_tokens"), col("covered_tokens"),
          floor(col("covered_tokens").cast("double") * 1000000
            / col("total_tokens") + 0.5).cast("long").as("coverage_e6"))
        .orderBy("lang")
    }),

    // TF-IDF keyword extraction: top-3 terms per document. idf is
    // quantized to int64 the moment it leaves the one transcendental
    // (ln agrees bit-for-bit on these rational inputs); everything
    // after is integer arithmetic, so rank order is engine-free.
    "x10_tfidf_top" -> ((s, dir) =>
      TfIdf.topTerms(docs(s, dir), "doc_id", "text", 3)
        .orderBy("doc_id", "rnk")),

    // Estimator-accuracy eval for the MinHash index: per LSH
    // candidate pair, the signature-estimated Jaccard (agreeing
    // permutations / 8, exact multiples of 1250 e4) BESIDE the true
    // Jaccard of the distinct shingle-hash sets — the d-family's
    // quality counterpart to v9/v12's ANN recall, as an
    // oracle-checked query. Shapes: signatures are the narrow map;
    // the exact side is a pair-restricted inverted-index join
    // (candidate pairs × their shingles, never corpus²).
    "d13_minhash_accuracy" -> ((s, dir) => {
      val d = docs(s, dir)
      // ONE persisted tokenize→shingle→md5 pass (hashedShingles)
      // feeds BOTH the signature side and the shingle-hash index —
      // before r21, sig and hx each re-ran that full corpus pass
      // (the two ~1 s jobs the probe showed). sig stays persisted
      // too: it feeds the pair build AND both agree-column sides
      // (unpersisted, a narrow map with no exchange for
      // ReusedExchange to dedup re-derives per branch).
      val hashed = Broadcasting.track(Caching.persistCorpus(
        MinHashLsh.hashedShingles(d, "doc_id", "text")))
      val sig = Broadcasting.track(
        MinHashLsh.signaturesFromHashed(hashed, "doc_id").persist())
      val pairs = MinHashLsh.candidatePairsFromSignatures(sig, "doc_id")
      val sa = sig.select(col("doc_id").as("doc_a") +:
        (0 until 8).map(i => col(s"mh$i").as(s"a$i")): _*)
      val sb = sig.select(col("doc_id").as("doc_b") +:
        (0 until 8).map(i => col(s"mh$i").as(s"b$i")): _*)
      val hx = Broadcasting.track(hashed
        .select(col("doc_id"), explode(col("hs")).as("h"))
        .distinct().persist())
      val sizes = hx.groupBy("doc_id").agg(count(lit(1)).as("n"))
      val shared = pairs
        .join(hx.select(col("doc_id").as("doc_a"), col("h")), "doc_a")
        .join(hx.select(col("doc_id").as("doc_b"), col("h")),
          Seq("doc_b", "h"))
        .groupBy("doc_a", "doc_b").agg(count(lit(1)).as("shared"))
      pairs
        .join(sa, "doc_a").join(sb, "doc_b")
        .withColumn("agree", (0 until 8).map(i =>
          when(col(s"a$i") === col(s"b$i"), 1L).otherwise(0L))
          .reduce(_ + _))
        // a band collision nearly always implies a shared shingle,
        // but nothing GUARANTEES it — left join + 0 keeps the pair
        .join(shared, Seq("doc_a", "doc_b"), "left")
        .join(sizes.select(col("doc_id").as("doc_a"),
          col("n").as("na")), "doc_a")
        .join(sizes.select(col("doc_id").as("doc_b"),
          col("n").as("nb")), "doc_b")
        .select(col("doc_a"), col("doc_b"),
          expr("(agree * 10000) div 8").as("est_e4"),
          expr("(coalesce(shared, 0L) * 10000) div " +
            "(na + nb - coalesce(shared, 0L))").as("exact_e4"))
        .orderBy("doc_a", "doc_b")
    }),

    // Source-balance census: exact Gini coefficient of per-source
    // character mass — the corpus-mixing health metric ("is one
    // source dominating the token budget"). Integer-exact via the
    // sorted-rank identity G = Σ(2i−n−1)·xᵢ / (n·Σxᵢ) (no |xᵢ−xⱼ|
    // n² pair scan), emitted as floor(1e6·G). The global window
    // ranks the PER-SOURCE frame — bounded by the source vocabulary
    // (20 here, maybe thousands at 100 TB), never the corpus.
    "x24_source_gini" -> ((s, dir) => {
      val c = docs(s, dir).groupBy(col("source"))
        .agg(sum(col("n_chars")).as("cnt"))
      val r = c.withColumn("i",
        row_number().over(Window.orderBy(col("cnt"), col("source"))))
      val a = r.agg(count(lit(1)).as("n"), sum("cnt").as("tot"))
      val num = r.crossJoin(broadcast(a))
        .agg(sum((lit(2L) * col("i") - col("n") - lit(1L)) *
          col("cnt")).as("num"))
      a.crossJoin(broadcast(num))
        .select(col("n").as("n_sources"), col("tot").as("total_chars"),
          expr("(1000000 * num) div (n * tot)").as("gini_e6"))
    }),

    // Canonical selection: keep ONE representative per near-dup
    // cluster by an explicit quality rule (longest text, ties to the
    // lowest id) instead of d7's keep-lowest-id or d8's raw census —
    // the curation step that decides WHICH near-duplicate survives.
    // Cluster = LSH connected component, singletons their own; the
    // pick is a max-of-struct hash aggregate (argmax without a
    // window), so at 100 TB it is one map-side-combined pass over
    // (doc, comp) labels.
    "d12_canonical_pick" -> ((s, dir) => {
      val comp = ConnectedComponents.dedupGroups(
        lshCandidatePairs(s, dir), "doc_a", "doc_b")
        .select(col("id").as("doc_id"), col("comp"))
      docs(s, dir).select(col("doc_id"), col("n_chars"))
        .join(comp, Seq("doc_id"), "left")
        .select(col("doc_id"), col("n_chars"),
          coalesce(col("comp"), col("doc_id")).as("comp"))
        .groupBy(col("comp"))
        .agg(count(lit(1)).as("n_members"),
          max(struct(col("n_chars"),
            (col("doc_id") * -1).as("negid"))).as("best"))
        .select(col("comp"),
          (col("best.negid") * -1).as("kept_doc_id"),
          col("best.n_chars").as("kept_n_chars"),
          col("n_members"))
        .orderBy("comp")
    }),

    // Transitive dedup GROUPS: connected components over the LSH
    // candidate pairs (min-label propagation, one shuffle per round,
    // rounds = component diameter) — the closure d7's single-pass rule
    // deliberately skips. Oracle = a recursive CTE reaching the same
    // fixpoint.
    "d8_dedup_groups" -> ((s, dir) =>
      ConnectedComponents.dedupGroups(
        lshCandidatePairs(s, dir), "doc_a", "doc_b")
        .select(col("id").as("doc_id"), col("comp"), col("group_size"))
        .orderBy("doc_id")),

    // Leakage-safe train/val split: the split unit is the near-dup
    // GROUP, not the document — a doc and its lightly-edited twin
    // must land on the same side, or the val set leaks into
    // training. Each doc's representative = its LSH connected
    // component (singletons are their own); the split is a stable
    // content hash of the REP, so adding/removing docs never
    // reshuffles unrelated assignments. Output: per-split doc/group
    // census + the cross-split near-dup pair count, which is 0 BY
    // CONSTRUCTION (group members share a rep share a split) — kept
    // in the result as the leakage checksum the oracle replays.
    "x19_leakage_split" -> ((s, dir) => {
      val pairs = Broadcasting.track(
        lshCandidatePairs(s, dir).persist())
      val comp = ConnectedComponents.dedupGroups(
        pairs, "doc_a", "doc_b")
        .select(col("id").as("doc_id"), col("comp"))
      // persisted: three consumers (both sides of the cross-split
      // pair check + the per-split census) each re-derived the
      // docs⋈comp join and the md5 split hash
      val split = Broadcasting.track(Caching.persistCorpus(
        docs(s, dir).select("doc_id")
          .join(comp, Seq("doc_id"), "left")
          .select(col("doc_id"),
            coalesce(col("comp"), col("doc_id")).as("rep"))
          .withColumn("split",
            when(StableHash.md5Mod("split", col("rep"), 100) < 90,
              lit("train")).otherwise(lit("val")))))
      val crossCnt = pairs
        .join(split.select(col("doc_id").as("doc_a"),
          col("split").as("sa")), Seq("doc_a"))
        .join(split.select(col("doc_id").as("doc_b"),
          col("split").as("sb")), Seq("doc_b"))
        .agg(coalesce(sum(when(col("sa") =!= col("sb"), 1L)
          .otherwise(0L)), lit(0L)).as("n_cross_pairs"))
      split.groupBy(col("split"))
        .agg(count(lit(1)).as("n_docs"),
          countDistinct(col("rep")).as("n_groups"))
        .crossJoin(crossCnt)
        .orderBy("split")
    }),

    // End-to-end dedup APPLICATION: what a pipeline actually ships.
    // Exact groups collapse to their min-doc_id representative; LSH
    // candidate pairs then drop each pair's higher id (single-pass
    // keep-lowest — deliberately NOT transitive closure, which needs
    // iterative union-find: greedy may over-remove when a doc_b's
    // doc_a was itself removed; conservative and deterministic, the
    // oracle applies the identical rule). Output: survivors/source.
    "d7_dedup_apply" -> ((s, dir) => {
      val d = docs(s, dir)
      val reps = d.groupBy(sha2(col("text"), 256).as("h"))
        .agg(min(col("doc_id")).as("doc_id"))
        .select("doc_id")
      val losers = lshCandidatePairs(s, dir)
        .select(col("doc_b").as("doc_id")).distinct()
      reps.join(losers, Seq("doc_id"), "left_anti")
        .join(d.select(col("doc_id"), col("source")), Seq("doc_id"))
        .groupBy(col("source")).agg(count(lit(1)).as("n_docs"))
        .orderBy("source")
    }),

    // Cross-corpus NEAR-dup decontamination: which corpus documents
    // are MinHash-LSH near-duplicates of the benchmark set (source =
    // src0)? The fuzzy complement of c2's exact n-gram decontamination
    // — catches lightly-edited benchmark copies exact grams miss.
    // Plan: one signature pass, banded both sides, then a plain
    // equi-JOIN corpus-bands ⋈ bench-bands on (band, k1, k2) — the
    // bench side is the small build side (benchmarks are thousands of
    // docs, the corpus billions), so this broadcasts/AQE-plans like
    // any fact⋈dim join; per-bucket fan-out is bounded by band-value
    // collisions exactly as in d4.
    "d9_cross_neardup" -> ((s, dir) => {
      // persisted: the corpus and bench branches below would otherwise
      // each re-run the whole tokenize→shingle→md5 signature pass
      val sig = Broadcasting.track(
        MinHashLsh.signatures(docs(s, dir), "doc_id", "text",
          carry = Seq("source")).persist())
      val bands = MinHashLsh.bands(sig, "doc_id", carry = Seq("source"))
      val corpus = bands.filter(col("source") =!= "src0")
        .select(col("doc_id"), col("band"), col("k1"), col("k2"))
      val bench = bands.filter(col("source") === "src0")
        .select(col("doc_id").as("bench_id"), col("band"), col("k1"),
          col("k2"))
      corpus.join(bench, Seq("band", "k1", "k2"))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_hits"),
          countDistinct(col("bench_id")).as("n_bench_docs"))
        .orderBy("doc_id")
    }),

    // Exact-span (20-token window) cross-doc duplication: the
    // distributed stand-in for suffix-array exact-substring dedup.
    // Inverted index on span hashes — B docs sharing a span cost B
    // index rows, never B²/2 pairs (SpanDedup).
    "d10_span_dedup" -> ((s, dir) =>
      SpanDedup.dupSpanCounts(docs(s, dir), "doc_id", "text", 20)
        .orderBy("doc_id")),

    // √-temperature source mixing: per-source keep rates flatten the
    // natural mix toward the smallest source (expected kept count =
    // √(N_min·N_s)); thresholds and the kept set are pure content
    // hashes, bit-replayed by the oracle.
    "x11_temperature_mix" -> ((s, dir) => {
      val d = docs(s, dir)
      // ONE thresholds frame feeds BOTH the report columns and the mix
      // filter: the subtrees are plan-identical, so Catalyst's
      // ReusedExchange dedups the count-per-source aggregate at
      // runtime — cheaper than persist(), whose cache-materialization
      // job measured ~2× the whole query (0.34s -> 0.7s isolated)
      val thr = Sampling.temperatureThresholds(d, "source")
      val kept = Sampling.temperatureMix(d, "doc_id", "source",
          thr, salt = "temp")
        .groupBy(col("source")).agg(count(lit(1)).as("n_kept"))
      thr.join(kept, Seq("source"), "left")
        .select(col("source"), col("n_rows"), col("keep_e6"),
          coalesce(col("n_kept"), lit(0L)).as("n_kept"))
        .orderBy("source")
    }),

    // BM25 ranked retrieval: global top-10 documents for a 4-term
    // probe query (Bm25.topDocs — TakeOrdered, per-term e4
    // quantization before the integer per-doc sum).
    "x12_bm25_topk" -> ((s, dir) =>
      // k1/b passed explicitly: the oracle interpolates the local
      // BmK1/BmB copies, so the two sides must pin the same constants
      // even if Bm25's defaults ever change
      Bm25.topDocs(docs(s, dir), "doc_id", "text", Bm25Terms, 10,
        k1 = BmK1, b = BmB)),

    // Unigram language-model log-probability (the perplexity-proxy
    // quality signal, CCNet-style): avg per-token ln p(term) under
    // the corpus's own unigram model. The transcendental is quantized
    // per DISTINCT term count the moment it is computed (TfIdf's
    // contract); per-doc sums are pure int64. Same residual ln
    // caveat as Bm25: a 1-ulp divergence on a floor boundary could
    // flip lp_e6 on some platform — observed bit-identical here. One corpus shuffle for
    // the vocabulary counts (persisted — it feeds the total and the
    // join-back), a size-gated vocabulary join, one per-doc agg.
    "x13_lm_logprob" -> ((s, dir) => {
      val toks = docs(s, dir)
        .select(col("doc_id"), explode(expr(tokensSql)).as("term"))
      val tf = Broadcasting.track(
        toks.groupBy(col("term")).agg(count(lit(1)).as("cnt")).persist())
      val total = tf.agg(sum(col("cnt")).as("total"))
      toks.join(Broadcasting.maybeBroadcast(tf), "term")
        .crossJoin(total)
        .withColumn("lp_e6",
          floor(log(col("cnt").cast("double") / col("total").cast("double"))
            * 1000000 + 0.5).cast("long"))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_tokens"), sum(col("lp_e6")).as("sum_lp_e6"))
        .withColumn("avg_lp_e6",
          floor(col("sum_lp_e6").cast("double") / col("n_tokens") + 0.5)
            .cast("long"))
        .orderBy("doc_id")
    }),

    // Bigram LM log-probability with add-1 smoothing — the
    // next-order perplexity-proxy above x13's unigram score (a much
    // sharper fluency filter: word-ORDER now matters). Per doc:
    // Σ ln((c_ab + 1) / (c_a + V)) over adjacent token pairs, counts
    // corpus-wide, V = vocabulary size. Numerator/denominator are
    // exact int64s (< 2^53 ⇒ exact doubles), one IEEE division + ln
    // quantized e6 at the transcendental (the TfIdf contract), then
    // pure integer sums. Plan: one corpus shuffle for bigram counts,
    // one for unigrams, both joined back size-gated; docs shorter
    // than 2 tokens have no bigram and drop in both engines.
    "x20_bigram_lm" -> ((s, dir) => {
      // toks feeds the bigram explode AND the unigram counts; pairs
      // feeds the bigram counts AND the final scoring join — both
      // persisted, or each consumer re-runs the tokenize/explode pass
      val toks = Broadcasting.track(docs(s, dir)
        .select(col("doc_id"), expr(tokensSql).as("w"))
        .persist())
      val pairs = Broadcasting.track(toks
        .filter(size(col("w")) >= 2)
        .select(col("doc_id"), explode(expr(
          """transform(sequence(1, size(w) - 1),
            |  i -> struct(element_at(w, i) as a,
            |              element_at(w, i + 1) as b))""".stripMargin))
          .as("p"))
        .select(col("doc_id"), col("p.a").as("a"), col("p.b").as("b"))
        .persist())
      val bc = Broadcasting.track(pairs
        .groupBy(col("a"), col("b")).agg(count(lit(1)).as("c_ab"))
        .persist())
      val uc = Broadcasting.track(toks
        .select(explode(col("w")).as("a"))
        .groupBy(col("a")).agg(count(lit(1)).as("c_a"))
        .persist())
      val vocab = uc.agg(count(lit(1)).as("vocab"))
      pairs
        .join(Broadcasting.maybeBroadcast(bc), Seq("a", "b"))
        .join(Broadcasting.maybeBroadcast(uc), Seq("a"))
        .crossJoin(vocab)
        .withColumn("lp_e6",
          floor(log((col("c_ab") + 1).cast("double") /
            (col("c_a") + col("vocab")).cast("double"))
            * 1000000 + 0.5).cast("long"))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_bigrams"),
          sum(col("lp_e6")).as("sum_lp_e6"))
        .withColumn("avg_lp_e6",
          floor(col("sum_lp_e6").cast("double") / col("n_bigrams") + 0.5)
            .cast("long"))
        .orderBy("doc_id")
    }),

    // N-gram novelty: per doc, the fraction of its distinct
    // 3-shingles seen NOWHERE else in the corpus — the
    // novelty-vs-boilerplate signal (memorization risk scoring,
    // template detection: low novelty = near-duplicate or
    // boilerplate-heavy). One shingle-df aggregate + join-back; the
    // df frame is vocabulary-sized. Shingles compare as xxhash64
    // (the d2/d10 2^-64 trade, oracle uses raw strings).
    "x23_ngram_novelty" -> ((s, dir) => {
      // persisted BEFORE the explode (the sharedShingleCounts
      // rationale): the hash array is expensive and feeds TWO
      // consumers (the df count + the join back), and with it in the
      // generator child InferFiltersFromGenerate additionally clones
      // it into size/isnotnull predicates that re-hash per row
      val hashed = Broadcasting.track(docs(s, dir)
        .withColumn("w", expr(tokensSql))
        .filter(size(col("w")) >= 3)
        .select(col("doc_id"), expr(
          """array_distinct(transform(sequence(1, size(w) - 2),
            |  i -> xxhash64(concat(element_at(w, i), ' ',
            |    element_at(w, i + 1), ' ', element_at(w, i + 2)))))"""
            .stripMargin).as("hs"))
        .persist())
      val ex = hashed.select(col("doc_id"), explode(col("hs")).as("sh_h"))
      val dfc = ex.groupBy(col("sh_h")).agg(count(lit(1)).as("df"))
      ex.join(dfc, Seq("sh_h"))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_shingles"),
          sum(when(col("df") === 1, 1L).otherwise(0L)).as("n_unique"))
        .withColumn("novelty_e4",
          floor(col("n_unique") * 10000.0 / col("n_shingles") + 0.5)
            .cast("long"))
        .orderBy("doc_id")
    }),

    // Deterministic weighted sampling (Efraimidis–Spirakis A-Res
    // with md5-derived u, no RNG): the 100 docs with highest
    // u^(1/n_chars) priority — long docs proportionally more likely,
    // yet the "random" draw replays bit-identically across engines,
    // runs, and stage retries (the data-mixing sampler you can
    // actually reproduce). TakeOrdered top-k, no global sort.
    "x22_weighted_sample" -> ((s, dir) =>
      Sampling.weightedPriority(
        docs(s, dir).select(col("doc_id"), col("n_chars")),
        "doc_id", "n_chars", k = 100)
        .orderBy("doc_id")),

    // PMI bigram collocations: the phrase-mining signal a tokenizer /
    // vocabulary pipeline computes before merging multi-word units.
    // pmi = ln(N·c_ab / (c_a·c_b)) over corpus-wide counts; both
    // numerator and denominator are EXACT int64 products (< 2^53, so
    // their doubles are exact), one IEEE division + ln, quantized e6
    // at the transcendental (the TfIdf contract). Plan: one corpus
    // shuffle for bigram counts, one vocabulary aggregate joined back
    // size-gated, TakeOrdered top-20 — nothing quadratic.
    "x15_pmi_bigrams" -> ((s, dir) => {
      val toks = docs(s, dir)
        .select(col("doc_id"), expr(tokensSql).as("w"))
      val bigrams = toks
        .filter(size(col("w")) >= 2)
        .select(explode(expr(
          """transform(sequence(1, size(w) - 1),
            |  i -> struct(element_at(w, i) as a,
            |              element_at(w, i + 1) as b))""".stripMargin))
          .as("p"))
        .select(col("p.a").as("a"), col("p.b").as("b"))
        .groupBy(col("a"), col("b")).agg(count(lit(1)).as("c_ab"))
      val unigrams = Broadcasting.maybeBroadcast(
        toks.select(explode(col("w")).as("term"))
          .groupBy(col("term")).agg(count(lit(1)).as("c")))
      val n = toks.select(explode(col("w")).as("term"))
        .agg(count(lit(1)).as("n_tokens"))
      bigrams
        .join(unigrams.select(col("term").as("a"), col("c").as("c_a")), "a")
        .join(unigrams.select(col("term").as("b"), col("c").as("c_b")), "b")
        .crossJoin(n)
        .filter(col("c_ab") >= 5)
        .withColumn("pmi_e6",
          floor(log(
            (col("c_ab") * col("n_tokens")).cast("double") /
              (col("c_a") * col("c_b")).cast("double"))
            * 1000000 + 0.5).cast("long"))
        .select(col("a"), col("b"), col("c_ab"), col("pmi_e6"))
        .orderBy(col("pmi_e6").desc, col("a").asc, col("b").asc)
        .limit(20)
    }),

    // BPE merge induction, 3 rounds: learn the most frequent adjacent
    // symbol pair over the corpus's words, apply the merge, recount —
    // tokenizer-vocabulary learning as a distributed query. Pair
    // selection tie-breaks (cnt desc, a, b) — deterministic end to
    // end, which is what lets every ITERATION hash-match too. Round 3
    // exercises the general MULTI-CHAR merge path: the round-2 pair
    // may contain round-1's merged symbol, so application must respect
    // symbol boundaries (BpeMerges' U+0001-boundary encoding + one
    // codegen'd literal replace — proof in its scaladoc; the DuckDB
    // oracle runs an independent straight-line fold). The encoded
    // corpus is built and persisted ONCE; each round is one pair-count
    // shuffle + a 1-row broadcast + a narrow replace.
    "x16_bpe_merges" -> ((s, dir) =>
      BpeMerges.learn(
        docs(s, dir).select(explode(expr(tokensSql)).as("word")),
        "word", rounds = 3, topK = 5)),

    // BPE tokenizer APPLICATION with the vocab x16 just learned:
    // corpus stats after 3 greedy merges — train and apply in one
    // engine. Per-instance totals come from weighting the word-TYPE
    // dictionary by frequency (identical totals, Zipf-bounded work);
    // the oracle replays the merges with its independent fold.
    "x17_bpe_tokenize" -> ((s, dir) => {
      val words = docs(s, dir)
        .select(explode(expr(tokensSql)).as("word"))
      val sym = BpeMerges.applied(words, "word", nMerges = 3)
        .select(BpeMerges.symbols(col("enc")).as("s"), col("wcnt"))
      val stats = sym.agg(
        sum(col("wcnt")).as("n_words"),
        sum(size(col("s")).cast("long") * col("wcnt")).as("n_symbols"))
      val vocab = sym.select(explode(col("s")).as("t"))
        .agg(countDistinct(col("t")).as("n_vocab"))
      stats.crossJoin(vocab)
    }),

    // Quality-decile curriculum buckets: rank every doc by the x2
    // quality score (ties broken by doc_id) into 10 equal-count bins,
    // report per-bin population and score/token stats — the binning a
    // mixing pipeline feeds its curriculum sampler. ntile's exact
    // rank semantics pin the oracle; the PRODUCTION spelling at
    // 100 TB replaces the global sort with quantile CUT POINTS (one
    // a13-style aggregate, then a narrow map-side binning) — boundary
    // ties land differently but no global window is needed.
    "x14_quality_buckets" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      // THE shared score definition (x2/x14/x25) — a private
      // re-spelling here could drift the bucket order from the
      // quality order the rest of the pipeline ranks by
      qualityScored(docs(s, dir))
        .withColumn("bucket", ntile(10)
          .over(Window.partitionBy(lit(1))
            .orderBy(col("score_e4"), col("doc_id"))).cast("long"))
        .groupBy(col("bucket"))
        .agg(count(lit(1)).as("n_docs"),
          min("score_e4").as("min_score_e4"),
          max("score_e4").as("max_score_e4"),
          sum("n_tokens").as("sum_tokens"))
        .orderBy("bucket")
    }),

    // Canonical text normalization (cleaning stage): strip
    // non-alphanumerics, collapse runs of spaces, trim, lowercase —
    // the usual pre-dedup/pre-tokenize canonical form. Pure
    // codegen'd string expressions; byte-identical in the oracle
    // (documents are ASCII).
    "x8_normalize" -> ((s, dir) =>
      docs(s, dir)
        .select(col("doc_id"),
          lower(trim(regexp_replace(regexp_replace(col("text"),
            "[^a-zA-Z0-9 ]", ""), " +", " "))).as("norm"))
        .orderBy("doc_id")),

    // Sequence packing (Packing.byRunningOffset): documents → 500-
    // token context-window bins per source shard; output is the bin
    // manifest (docs + tokens per bin).
    "w7_pack_bins" -> ((s, dir) => {
      val toks = docs(s, dir)
        .withColumn("w", expr(tokensSql))
        .select(col("doc_id"), col("source"),
          size(col("w")).cast("long").as("n_tok"))
      Packing.byRunningOffset(toks, "source", "doc_id", "n_tok", 500L)
        .groupBy(col("source"), col("bin"))
        .agg(count(lit(1)).as("n_docs"), sum("n_tok").as("n_tokens"))
        .orderBy("source", "bin")
    })
  )

  val oracle: Map[String, String] = Map(
    "x21_vocab_coverage" -> """
      |WITH toks AS (
      |  SELECT lang, unnest(list_filter(string_split(text, ' '),
      |    t -> t <> '')) AS term FROM documents),
      |tot AS (SELECT term, count(*)::BIGINT AS cnt
      |        FROM toks GROUP BY 1),
      |vocab AS (SELECT term FROM tot
      |          ORDER BY cnt DESC, term LIMIT 10),
      |c AS (SELECT lang, count(*)::BIGINT AS total_tokens,
      |        sum(CASE WHEN term IN (SELECT term FROM vocab)
      |            THEN 1 ELSE 0 END)::BIGINT AS covered_tokens
      |      FROM toks GROUP BY 1)
      |SELECT lang, total_tokens, covered_tokens,
      |  CAST(floor(covered_tokens::DOUBLE * 1000000 / total_tokens
      |    + 0.5) AS BIGINT) AS coverage_e6
      |FROM c ORDER BY lang""".stripMargin,
    "x10_tfidf_top" -> """
      |WITH toks AS (
      |  SELECT doc_id, unnest(list_filter(string_split(text, ' '),
      |    t -> t <> '')) AS term FROM documents),
      |tf AS (SELECT doc_id, term, count(*)::BIGINT AS tf
      |       FROM toks GROUP BY 1, 2),
      |df AS (SELECT term, count(*)::BIGINT AS df FROM tf GROUP BY 1),
      |n AS (SELECT count(DISTINCT doc_id)::BIGINT AS n_docs FROM tf),
      |s AS (
      |  SELECT doc_id, tf.term, tf.tf, df.df,
      |    tf.tf * CAST(floor((ln((n_docs + 1) / (df + 1)) + 1)
      |      * 1000000 + 0.5) AS BIGINT) AS score_e6
      |  FROM tf JOIN df ON tf.term = df.term CROSS JOIN n),
      |r AS (SELECT *, row_number() OVER (PARTITION BY doc_id
      |        ORDER BY score_e6 DESC, term ASC) AS rnk FROM s)
      |SELECT doc_id, term, tf, df, score_e6, rnk FROM r
      |WHERE rnk <= 3 ORDER BY doc_id, rnk""".stripMargin,
    "x9_shuffle_shards" -> """
      |SELECT doc_id,
      | ('0x' || substr(md5('shard:' || doc_id::VARCHAR), 1, 15))::BIGINT
      |  % 8 AS shard,
      | ('0x' || substr(md5('pos:' || doc_id::VARCHAR), 1, 15))::BIGINT
      |  % 1000000000000000 AS pos
      |FROM documents ORDER BY shard, pos, doc_id""".stripMargin,
    "x6_hash_sample" -> """
      |SELECT doc_id, lang FROM documents
      |WHERE ('0x' || substr(md5(':' || doc_id::VARCHAR), 1, 15))::BIGINT
      |  % 1000000 < 100000
      |ORDER BY doc_id""".stripMargin,
    "x7_stratified_sample" -> """
      |SELECT lang, count(*) AS cnt FROM documents
      |WHERE ('0x' || substr(md5(':' || doc_id::VARCHAR), 1, 15))::BIGINT
      |  % 1000000 <
      |  CASE lang WHEN 'en' THEN 250000 WHEN 'de' THEN 500000
      |            WHEN 'zh' THEN 1000000 ELSE -1 END
      |GROUP BY 1 ORDER BY 1""".stripMargin,
    "d8_dedup_groups" -> (oracleMinhash.replaceFirst(
      "WITH ", "WITH RECURSIVE ") + """,
      |bands AS (
      | SELECT doc_id, 0 AS band, mh0 AS k1, mh1 AS k2 FROM sig
      | UNION ALL SELECT doc_id, 1, mh2, mh3 FROM sig
      | UNION ALL SELECT doc_id, 2, mh4, mh5 FROM sig
      | UNION ALL SELECT doc_id, 3, mh6, mh7 FROM sig),
      |pairs AS (
      | SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      | FROM bands a JOIN bands b ON a.band = b.band AND a.k1 = b.k1
      |  AND a.k2 = b.k2 AND a.doc_id < b.doc_id),
      |edges AS (SELECT doc_a AS a, doc_b AS b FROM pairs
      |          UNION ALL SELECT doc_b, doc_a FROM pairs),
      |cc(id, comp) AS (
      | SELECT a, a FROM edges
      | UNION
      | SELECT e.b, cc.comp FROM cc JOIN edges e ON cc.id = e.a),
      |assign AS (SELECT id, min(comp) AS comp FROM cc GROUP BY 1),
      |sizes AS (SELECT comp, count(*) AS group_size FROM assign
      |          GROUP BY 1)
      |SELECT id AS doc_id, a.comp, group_size
      |FROM assign a JOIN sizes s ON a.comp = s.comp
      |ORDER BY doc_id""".stripMargin),

    // sig + band-pair machinery from the minhash base; exact side
    // from DISTINCT shingle hashes (hash collisions collapse on both
    // engines identically)
    "d13_minhash_accuracy" -> (oracleMinhash + """,
      |bands AS (
      | SELECT doc_id, 0 AS band, mh0 AS k1, mh1 AS k2 FROM sig
      | UNION ALL SELECT doc_id, 1, mh2, mh3 FROM sig
      | UNION ALL SELECT doc_id, 2, mh4, mh5 FROM sig
      | UNION ALL SELECT doc_id, 3, mh6, mh7 FROM sig),
      |pairs AS (
      | SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      | FROM bands a JOIN bands b ON a.band = b.band AND a.k1 = b.k1
      |  AND a.k2 = b.k2 AND a.doc_id < b.doc_id),
      |hxd AS (SELECT DISTINCT doc_id, h FROM hx),
      |sizes AS (SELECT doc_id, count(*) AS n FROM hxd GROUP BY 1),
      |shr AS (
      | SELECT p.doc_a, p.doc_b, count(*) AS shared
      | FROM pairs p JOIN hxd a ON a.doc_id = p.doc_a
      |  JOIN hxd b ON b.doc_id = p.doc_b AND b.h = a.h
      | GROUP BY 1, 2)
      |SELECT p.doc_a, p.doc_b,
      | (((sa.mh0 = sb.mh0)::BIGINT + (sa.mh1 = sb.mh1)::BIGINT
      |  + (sa.mh2 = sb.mh2)::BIGINT + (sa.mh3 = sb.mh3)::BIGINT
      |  + (sa.mh4 = sb.mh4)::BIGINT + (sa.mh5 = sb.mh5)::BIGINT
      |  + (sa.mh6 = sb.mh6)::BIGINT + (sa.mh7 = sb.mh7)::BIGINT)
      |  * 10000 // 8)::BIGINT AS est_e4,
      | ((coalesce(s.shared, 0) * 10000)
      |  // (za.n + zb.n - coalesce(s.shared, 0)))::BIGINT AS exact_e4
      |FROM pairs p
      | JOIN sig sa ON sa.doc_id = p.doc_a
      | JOIN sig sb ON sb.doc_id = p.doc_b
      | LEFT JOIN shr s ON s.doc_a = p.doc_a AND s.doc_b = p.doc_b
      | JOIN sizes za ON za.doc_id = p.doc_a
      | JOIN sizes zb ON zb.doc_id = p.doc_b
      |ORDER BY 1, 2""".stripMargin),

    // same sorted-rank identity, independently spelled
    "x24_source_gini" -> """
      |WITH c AS (SELECT source, sum(n_chars) AS cnt
      |  FROM documents GROUP BY 1),
      |r AS (SELECT cnt,
      |  row_number() OVER (ORDER BY cnt, source) AS i FROM c),
      |a AS (SELECT count(*) AS n, sum(cnt) AS tot FROM r),
      |num AS (SELECT sum((2*r.i - a.n - 1) * r.cnt) AS num
      |  FROM r CROSS JOIN a)
      |SELECT a.n::BIGINT AS n_sources, a.tot::BIGINT AS total_chars,
      | ((1000000 * num.num) // (a.n * a.tot))::BIGINT AS gini_e6
      |FROM a CROSS JOIN num""".stripMargin,

    // d8's component machinery + an independent window-argmax pick
    "d12_canonical_pick" -> (oracleMinhash.replaceFirst(
      "WITH ", "WITH RECURSIVE ") + """,
      |bands AS (
      | SELECT doc_id, 0 AS band, mh0 AS k1, mh1 AS k2 FROM sig
      | UNION ALL SELECT doc_id, 1, mh2, mh3 FROM sig
      | UNION ALL SELECT doc_id, 2, mh4, mh5 FROM sig
      | UNION ALL SELECT doc_id, 3, mh6, mh7 FROM sig),
      |pairs AS (
      | SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      | FROM bands a JOIN bands b ON a.band = b.band AND a.k1 = b.k1
      |  AND a.k2 = b.k2 AND a.doc_id < b.doc_id),
      |edges AS (SELECT doc_a AS a, doc_b AS b FROM pairs
      |          UNION ALL SELECT doc_b, doc_a FROM pairs),
      |cc(id, comp) AS (
      | SELECT a, a FROM edges
      | UNION
      | SELECT e.b, cc.comp FROM cc JOIN edges e ON cc.id = e.a),
      |assign AS (SELECT id, min(comp) AS comp FROM cc GROUP BY 1),
      |withc AS (
      | SELECT d.doc_id, d.n_chars, coalesce(a.comp, d.doc_id) AS comp
      | FROM documents d LEFT JOIN assign a ON d.doc_id = a.id),
      |r AS (
      | SELECT comp, doc_id, n_chars,
      |  count(*) OVER (PARTITION BY comp) AS n_members,
      |  row_number() OVER (PARTITION BY comp
      |    ORDER BY n_chars DESC, doc_id ASC) AS rn
      | FROM withc)
      |SELECT comp, doc_id AS kept_doc_id, n_chars AS kept_n_chars,
      | n_members::BIGINT AS n_members
      |FROM r WHERE rn = 1 ORDER BY comp""".stripMargin),
    // d8's recursive-CTE component machinery + the stable rep-hash
    // split; the checksum column must replay to 0 in both engines
    "x19_leakage_split" -> (oracleMinhash.replaceFirst(
      "WITH ", "WITH RECURSIVE ") + """,
      |bands AS (
      | SELECT doc_id, 0 AS band, mh0 AS k1, mh1 AS k2 FROM sig
      | UNION ALL SELECT doc_id, 1, mh2, mh3 FROM sig
      | UNION ALL SELECT doc_id, 2, mh4, mh5 FROM sig
      | UNION ALL SELECT doc_id, 3, mh6, mh7 FROM sig),
      |pairs AS (
      | SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      | FROM bands a JOIN bands b ON a.band = b.band AND a.k1 = b.k1
      |  AND a.k2 = b.k2 AND a.doc_id < b.doc_id),
      |edges AS (SELECT doc_a AS a, doc_b AS b FROM pairs
      |          UNION ALL SELECT doc_b, doc_a FROM pairs),
      |cc(id, comp) AS (
      | SELECT a, a FROM edges
      | UNION
      | SELECT e.b, cc.comp FROM cc JOIN edges e ON cc.id = e.a),
      |assign AS (SELECT id, min(comp) AS comp FROM cc GROUP BY 1),
      |rep AS (SELECT d.doc_id, coalesce(a.comp, d.doc_id) AS rep
      |        FROM documents d LEFT JOIN assign a ON d.doc_id = a.id),
      |sp AS (SELECT doc_id, rep,
      |  CASE WHEN ('0x' || substr(md5('split:' || rep::VARCHAR),
      |    1, 15))::BIGINT % 100 < 90 THEN 'train' ELSE 'val' END
      |    AS split FROM rep),
      |cx AS (SELECT count(*) FILTER (WHERE sa.split <> sb.split)
      |    AS n_cross_pairs
      |  FROM pairs p JOIN sp sa ON p.doc_a = sa.doc_id
      |               JOIN sp sb ON p.doc_b = sb.doc_id)
      |SELECT split, count(*) AS n_docs,
      | count(DISTINCT rep) AS n_groups, n_cross_pairs
      |FROM sp CROSS JOIN cx GROUP BY 1, n_cross_pairs
      |ORDER BY 1""".stripMargin),
    "d7_dedup_apply" -> (oracleMinhash + """,
      |bands AS (
      | SELECT doc_id, 0 AS band, mh0 AS k1, mh1 AS k2 FROM sig
      | UNION ALL SELECT doc_id, 1, mh2, mh3 FROM sig
      | UNION ALL SELECT doc_id, 2, mh4, mh5 FROM sig
      | UNION ALL SELECT doc_id, 3, mh6, mh7 FROM sig),
      |losers AS (
      | SELECT DISTINCT b.doc_id FROM bands a JOIN bands b
      |  ON a.band = b.band AND a.k1 = b.k1 AND a.k2 = b.k2
      |  AND a.doc_id < b.doc_id),
      |reps AS (SELECT min(doc_id) AS doc_id FROM documents
      |         GROUP BY sha256(text)),
      |surv AS (SELECT r.doc_id FROM reps r LEFT JOIN losers l
      |         ON r.doc_id = l.doc_id WHERE l.doc_id IS NULL)
      |SELECT d.source, count(*) AS n_docs
      |FROM surv JOIN documents d ON surv.doc_id = d.doc_id
      |GROUP BY 1 ORDER BY 1""".stripMargin),
    "x8_normalize" -> """
      |SELECT doc_id,
      | lower(trim(regexp_replace(regexp_replace(text,
      |   '[^a-zA-Z0-9 ]', '', 'g'), ' +', ' ', 'g'))) AS norm
      |FROM documents ORDER BY doc_id""".stripMargin,
    // engine joins on xxhash64(band keys are longs already); the
    // cross-side band join replays with raw minhash values — exact
    "d9_cross_neardup" -> (oracleMinhashSrc + """,
      |bands AS (
      | SELECT doc_id, source, 0 AS band, mh0 AS k1, mh1 AS k2 FROM sig
      | UNION ALL SELECT doc_id, source, 1, mh2, mh3 FROM sig
      | UNION ALL SELECT doc_id, source, 2, mh4, mh5 FROM sig
      | UNION ALL SELECT doc_id, source, 3, mh6, mh7 FROM sig)
      |SELECT c.doc_id, count(*) AS n_hits,
      | count(DISTINCT b.doc_id) AS n_bench_docs
      |FROM bands c JOIN bands b ON c.band = b.band AND c.k1 = b.k1
      | AND c.k2 = b.k2
      |WHERE c.source <> 'src0' AND b.source = 'src0'
      |GROUP BY 1 ORDER BY 1""".stripMargin),
    // engine hashes each 20-token window to xxhash64; the oracle
    // joins raw window strings — identical short of a 2^-64 collision
    "d10_span_dedup" -> (oracleToks + """,
      |wins AS (SELECT doc_id,
      |  list_distinct(list_transform(range(1, len(w) - 18),
      |    i -> array_to_string(list_slice(w, i, i + 19), ' '))) AS ws
      | FROM toks WHERE len(w) >= 20),
      |e AS (SELECT doc_id, unnest(ws) AS win FROM wins),
      |shared AS (SELECT win FROM e GROUP BY 1
      |           HAVING count(DISTINCT doc_id) >= 2)
      |SELECT doc_id, count(*) AS n_dup_spans
      |FROM e JOIN shared USING (win)
      |GROUP BY 1 ORDER BY 1""".stripMargin),
    // the double constants are interpolated from the SAME Scala
    // expressions the operator embeds (k1+1, 1−b, …): both engines
    // parse the identical shortest-round-trip decimal, so the float
    // chains match bit-for-bit before the e4 floor
    "x12_bm25_topk" -> s"""
      |WITH base AS (SELECT doc_id,
      |  list_filter(string_split(text, ' '), t -> t <> '') AS w
      | FROM documents),
      |b2 AS (SELECT doc_id, w, len(w)::BIGINT AS dl FROM base
      |       WHERE len(w) > 0),
      |stats AS (SELECT count(*)::BIGINT AS n_docs,
      |          sum(dl)::BIGINT AS sum_dl FROM b2),
      |pt AS (SELECT doc_id, dl, t.term,
      |  len(list_filter(w, x -> x = t.term))::BIGINT AS tf
      | FROM b2 CROSS JOIN (SELECT unnest(
      |   [${Bm25Terms.map(t => s"'$t'").mkString(", ")}]) AS term) t),
      |ptf AS (SELECT * FROM pt WHERE tf > 0),
      |dfq AS (SELECT term, count(*)::BIGINT AS df FROM ptf GROUP BY 1),
      |sc AS (SELECT doc_id,
      |  CAST(floor(
      |    ln(1.0 + ((n_docs - df)::DOUBLE + 0.5) / (df::DOUBLE + 0.5))
      |    * (tf::DOUBLE * ${BmK1 + 1.0})
      |    / (tf::DOUBLE + $BmK1 * (${1.0 - BmB} + $BmB * dl::DOUBLE
      |       / (sum_dl::DOUBLE / n_docs::DOUBLE)))
      |    * 10000.0 + 0.5) AS BIGINT) AS tscore_e4
      |  FROM ptf JOIN dfq USING (term) CROSS JOIN stats)
      |SELECT doc_id, sum(tscore_e4)::BIGINT AS score_e4
      |FROM sc GROUP BY 1
      |ORDER BY score_e4 DESC, doc_id ASC LIMIT 10""".stripMargin,
    "x13_lm_logprob" -> """
      |WITH toks AS (SELECT doc_id,
      |  unnest(list_filter(string_split(text, ' '), t -> t <> ''))
      |   AS term FROM documents),
      |tf AS (SELECT term, count(*)::BIGINT AS cnt FROM toks GROUP BY 1),
      |tot AS (SELECT sum(cnt)::BIGINT AS total FROM tf),
      |sc AS (SELECT doc_id,
      |  CAST(floor(ln(cnt::DOUBLE / total::DOUBLE) * 1000000 + 0.5)
      |    AS BIGINT) AS lp_e6
      | FROM toks JOIN tf USING (term) CROSS JOIN tot)
      |SELECT doc_id, count(*)::BIGINT AS n_tokens,
      | sum(lp_e6)::BIGINT AS sum_lp_e6,
      | CAST(floor(sum(lp_e6)::DOUBLE / count(*) + 0.5) AS BIGINT)
      |  AS avg_lp_e6
      |FROM sc GROUP BY 1 ORDER BY 1""".stripMargin,
    // global shingle df over raw strings (engine joins xxhash64)
    "x23_ngram_novelty" -> (oracleShingled + """,
      |ex AS (SELECT doc_id, unnest(shingles) AS s FROM sh),
      |dfc AS (SELECT s, count(*) AS df FROM ex GROUP BY 1)
      |SELECT doc_id, count(*)::BIGINT AS n_shingles,
      | sum(CASE WHEN df = 1 THEN 1 ELSE 0 END)::BIGINT AS n_unique,
      | CAST(floor(sum(CASE WHEN df = 1 THEN 1 ELSE 0 END)
      |   * 10000.0 / count(*) + 0.5) AS BIGINT) AS novelty_e4
      |FROM ex JOIN dfc USING (s) GROUP BY 1 ORDER BY 1""".stripMargin),
    // md5 → (0,1] uniform → ln/w, every post-ln step IEEE-specified;
    // top-100 by (pri DESC, doc_id) replays as a plain ORDER/LIMIT
    "x22_weighted_sample" -> """
      |WITH p AS (SELECT doc_id, n_chars,
      |  CAST(floor(ln(
      |    (('0x' || substr(md5('wsample:' || doc_id::VARCHAR),
      |      1, 15))::BIGINT % 1152921504606846976 + 1)::DOUBLE
      |    / 1152921504606846976.0) / n_chars
      |   * 1000000000.0 + 0.5) AS BIGINT) AS pri_e9
      | FROM documents)
      |SELECT doc_id, n_chars, pri_e9 FROM p
      |ORDER BY pri_e9 DESC, doc_id LIMIT 100""".stripMargin,

    // same quantize-at-the-transcendental contract as x13/x15; the
    // bigram explode and both count joins replay verbatim
    "x20_bigram_lm" -> (oracleToks + """,
      |uni AS (SELECT unnest(w) AS a FROM toks),
      |uc AS (SELECT a, count(*)::BIGINT AS c_a FROM uni GROUP BY 1),
      |v AS (SELECT count(*)::BIGINT AS vocab FROM uc),
      |pp AS (SELECT doc_id,
      |  unnest(list_transform(range(1, len(w)),
      |    i -> struct_pack(a := w[i], b := w[i+1]))) AS p
      | FROM toks WHERE len(w) >= 2),
      |pb AS (SELECT doc_id, p.a AS a, p.b AS b FROM pp),
      |bc AS (SELECT a, b, count(*)::BIGINT AS c_ab FROM pb
      |       GROUP BY 1, 2),
      |sc AS (SELECT doc_id,
      |  CAST(floor(ln((c_ab + 1)::DOUBLE / (c_a + vocab)::DOUBLE)
      |    * 1000000 + 0.5) AS BIGINT) AS lp_e6
      | FROM pb JOIN bc USING (a, b) JOIN uc USING (a) CROSS JOIN v)
      |SELECT doc_id, count(*)::BIGINT AS n_bigrams,
      | sum(lp_e6)::BIGINT AS sum_lp_e6,
      | CAST(floor(sum(lp_e6)::DOUBLE / count(*) + 0.5) AS BIGINT)
      |  AS avg_lp_e6
      |FROM sc GROUP BY 1 ORDER BY 1""".stripMargin),
    "x11_temperature_mix" -> """
      |WITH c AS (SELECT source, count(*) AS n_rows FROM documents
      |           GROUP BY 1),
      |m AS (SELECT min(n_rows) AS n_min FROM c),
      |t AS (SELECT source, n_rows,
      |  CAST(floor(1000000 * sqrt(n_min::DOUBLE / n_rows::DOUBLE))
      |    AS BIGINT) AS keep_e6 FROM c, m),
      |k AS (SELECT d.source, count(*) AS n_kept
      |      FROM documents d JOIN t USING (source)
      |      WHERE ('0x' || substr(md5('temp:' || d.doc_id::VARCHAR),
      |        1, 15))::BIGINT % 1000000 < t.keep_e6
      |      GROUP BY 1)
      |SELECT t.source, t.n_rows, t.keep_e6,
      | coalesce(k.n_kept, 0::BIGINT) AS n_kept
      |FROM t LEFT JOIN k USING (source) ORDER BY source""".stripMargin,
    "w7_pack_bins" -> (oracleToks + """,
      |t AS (SELECT doc_id, source, len(w)::BIGINT AS n_tok FROM toks),
      |o AS (SELECT doc_id, source, n_tok,
      |  coalesce(sum(n_tok) OVER (PARTITION BY source ORDER BY doc_id
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
      |   AS off FROM t)
      |SELECT source, (off // 500)::BIGINT AS bin, count(*) AS n_docs,
      | sum(n_tok)::BIGINT AS n_tokens
      |FROM o GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),
    "x1_token_count" -> (oracleToks + """
      |SELECT doc_id, len(w)::BIGINT AS n_tokens,
      | len(list_distinct(w))::BIGINT AS n_uniq,
      | CAST(floor(list_reduce(list_prepend(0::BIGINT,
      |   list_transform(w, t -> len(t))), (a, b) -> a + b)
      |  * 100.0 / len(w) + 0.5) AS BIGINT) AS avg_tok_len_e2
      |FROM toks WHERE len(w) > 0 ORDER BY doc_id""".stripMargin),
    "x5_bpe_tokens" -> """
      |SELECT doc_id,
      | len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]|[^a-zA-Z0-9 ]'))
      |  ::BIGINT AS n_bpe_tokens,
      | len(regexp_extract_all(text, '[0-9]'))::BIGINT AS n_digits
      |FROM documents ORDER BY doc_id""".stripMargin,
    "x2_quality_score" -> (oracleToks + """,
      |q AS (SELECT doc_id, len(w)::BIGINT AS n_tokens,
      |  len(list_distinct(w))::BIGINT AS n_uniq,
      |  len(list_filter(w, t -> t IN ('the', 'a')))::BIGINT AS stop_cnt
      | FROM toks WHERE len(w) > 0)
      |SELECT doc_id, n_tokens, stop_cnt,
      | CAST(floor((0.5 * n_uniq / n_tokens
      |  + 0.3 * (1.0 - stop_cnt / CAST(n_tokens AS DOUBLE))
      |  + 0.2 * least(1.0, n_tokens / 100.0)) * 10000 + 0.5) AS BIGINT)
      |  AS score_e4
      |FROM q ORDER BY doc_id""".stripMargin),
    "x25_budget_fill" -> (oracleToks + """,
      |q AS (SELECT doc_id, source, len(w)::BIGINT AS n_tokens,
      |  len(list_distinct(w))::BIGINT AS n_uniq,
      |  len(list_filter(w, t -> t IN ('the', 'a')))::BIGINT AS stop_cnt
      | FROM toks WHERE len(w) > 0),
      |sc AS (SELECT doc_id, source, n_tokens,
      |  CAST(floor((0.5 * n_uniq / n_tokens
      |   + 0.3 * (1.0 - stop_cnt / CAST(n_tokens AS DOUBLE))
      |   + 0.2 * least(1.0, n_tokens / 100.0)) * 10000 + 0.5) AS BIGINT)
      |   AS score_e4
      | FROM q),
      |c AS (SELECT *, sum(n_tokens) OVER (PARTITION BY source
      |   ORDER BY score_e4 DESC, doc_id) AS cum FROM sc)
      |SELECT source, count(*)::BIGINT AS n_selected,
      | max(cum)::BIGINT AS tokens_used,
      | min(score_e4)::BIGINT AS quality_bar,
      | sum(doc_id)::BIGINT AS sum_ids
      |FROM c WHERE cum <= 5000 GROUP BY 1 ORDER BY 1""".stripMargin),
    "x16_bpe_merges" -> (oracleToks + oracleBpeChain + """,
      |r1 AS (SELECT 1::BIGINT AS round,
      |  row_number() OVER (ORDER BY cnt DESC, a, b) AS rnk, a, b, cnt
      | FROM p1 QUALIFY rnk <= 5),
      |r2 AS (SELECT 2::BIGINT AS round,
      |  row_number() OVER (ORDER BY cnt DESC, a, b) AS rnk, a, b, cnt
      | FROM p2 QUALIFY rnk <= 5),
      |r3 AS (SELECT 3::BIGINT AS round,
      |  row_number() OVER (ORDER BY cnt DESC, a, b) AS rnk, a, b, cnt
      | FROM p3 QUALIFY rnk <= 5)
      |SELECT round, rnk, a, b, cnt FROM r1
      |UNION ALL SELECT round, rnk, a, b, cnt FROM r2
      |UNION ALL SELECT round, rnk, a, b, cnt FROM r3
      |ORDER BY round, rnk""".stripMargin),
    "x17_bpe_tokenize" -> (oracleToks + oracleBpeChain + """,
      |b3 AS (SELECT a, b FROM p3
      |  QUALIFY row_number() OVER (ORDER BY cnt DESC, a, b) = 1),
      |s3 AS (
      |  SELECT list_reduce(list_transform(s2.s, c -> [c]),
      |    (acc, x) -> CASE
      |      WHEN len(acc) > 0 AND acc[-1] = b3.a AND x[1] = b3.b
      |      THEN list_append(acc[1:len(acc)-1], b3.a || b3.b)
      |      ELSE list_append(acc, x[1]) END) AS s
      |  FROM s2 CROSS JOIN b3),
      |st AS (SELECT count(*)::BIGINT AS n_words,
      |  sum(len(s))::BIGINT AS n_symbols FROM s3),
      |v AS (SELECT count(DISTINCT u)::BIGINT AS n_vocab
      |  FROM (SELECT unnest(s) AS u FROM s3))
      |SELECT n_words, n_symbols, n_vocab FROM st CROSS JOIN v"""
      .stripMargin),
    "x15_pmi_bigrams" -> (oracleToks + """,
      |bg AS (
      |  SELECT u.a AS a, u.b AS b, count(*) AS c_ab FROM (
      |    SELECT unnest(list_transform(range(1, len(w)),
      |      i -> {'a': w[i], 'b': w[i + 1]})) AS u
      |    FROM toks WHERE len(w) >= 2)
      |  GROUP BY 1, 2),
      |ug AS (SELECT unnest(w) AS term FROM toks),
      |uc AS (SELECT term, count(*) AS c FROM ug GROUP BY 1),
      |n AS (SELECT count(*) AS n_tokens FROM ug)
      |SELECT bg.a, bg.b, bg.c_ab,
      |  CAST(floor(ln((bg.c_ab * n_tokens)::DOUBLE
      |    / (ca.c * cb.c)::DOUBLE) * 1000000 + 0.5) AS BIGINT) AS pmi_e6
      |FROM bg
      |JOIN uc ca ON bg.a = ca.term
      |JOIN uc cb ON bg.b = cb.term
      |CROSS JOIN n
      |WHERE bg.c_ab >= 5
      |ORDER BY pmi_e6 DESC, bg.a ASC, bg.b ASC LIMIT 20""".stripMargin),
    "x14_quality_buckets" -> (oracleToks + """,
      |q AS (SELECT doc_id, len(w)::BIGINT AS n_tokens,
      |  len(list_distinct(w))::BIGINT AS n_uniq,
      |  len(list_filter(w, t -> t IN ('the', 'a')))::BIGINT AS stop_cnt
      | FROM toks WHERE len(w) > 0),
      |s AS (SELECT doc_id, n_tokens,
      | CAST(floor((0.5 * n_uniq / n_tokens
      |  + 0.3 * (1.0 - stop_cnt / CAST(n_tokens AS DOUBLE))
      |  + 0.2 * least(1.0, n_tokens / 100.0)) * 10000 + 0.5) AS BIGINT)
      |  AS score_e4
      | FROM q),
      |b AS (SELECT doc_id, n_tokens, score_e4,
      |  ntile(10) OVER (ORDER BY score_e4, doc_id) AS bucket FROM s)
      |SELECT bucket::BIGINT AS bucket, count(*) AS n_docs,
      | min(score_e4) AS min_score_e4, max(score_e4) AS max_score_e4,
      | sum(n_tokens)::BIGINT AS sum_tokens
      |FROM b GROUP BY 1 ORDER BY 1""".stripMargin),
    "x3_lang_id" -> (oracleToks + """,
      |sc AS (SELECT doc_id, lang,
      |  len(list_filter(w, t -> t IN ('the', 'a'))) AS s_en,
      |  len(list_filter(w, t -> t IN ('el', 'la'))) AS s_es,
      |  len(list_filter(w, t -> t IN ('der', 'die'))) AS s_de,
      |  len(list_filter(w, t -> t IN ('le', 'les'))) AS s_fr,
      |  len(list_filter(w, t -> t IN ('的'))) AS s_zh
      | FROM toks),
      |p AS (SELECT lang,
      |  CASE WHEN greatest(s_en, s_es, s_de, s_fr, s_zh) = 0 THEN 'und'
      |   WHEN s_en >= s_es AND s_en >= s_de AND s_en >= s_fr
      |    AND s_en >= s_zh THEN 'en'
      |   WHEN s_es >= s_de AND s_es >= s_fr AND s_es >= s_zh THEN 'es'
      |   WHEN s_de >= s_fr AND s_de >= s_zh THEN 'de'
      |   WHEN s_fr >= s_zh THEN 'fr' ELSE 'zh' END AS predicted
      | FROM sc)
      |SELECT lang, predicted, count(*) AS n_docs FROM p
      |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),
    "x4_fingerprint" -> s"""
      |SELECT doc_id,
      | list_reduce(list_prepend(0::BIGINT,
      |   list_transform(range(1, len(text) + 1),
      |     i -> ascii(substr(text, i, 1)))),
      |  (a, b) -> (a * 31 + b) % $P) AS fingerprint
      |FROM documents ORDER BY doc_id""".stripMargin,
    "d1_exact_dedup" -> """
      |WITH h AS (SELECT sha256(text) AS hs FROM documents),
      |g AS (SELECT hs, count(*) AS group_size FROM h GROUP BY 1)
      |SELECT group_size, count(*) AS n_groups FROM g
      |GROUP BY 1 ORDER BY 1""".stripMargin,
    "d2_ngram_jaccard" -> (oracleShingled + s""",
      |ex AS (SELECT doc_id, source, len(shingles)::BIGINT AS n,
      |        unnest(shingles) AS shingle FROM sh),
      |exk AS (SELECT * FROM (
      |  SELECT ex.*, count(*) OVER (PARTITION BY source, shingle) AS df
      |  FROM ex) WHERE df <= $DfCap),
      |pairs AS (
      | SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
      |  count(*) AS shared, max(a.n) AS na, max(b.n) AS nb
      | FROM exk a JOIN exk b ON a.shingle = b.shingle
      |  AND a.source = b.source AND a.doc_id < b.doc_id
      | GROUP BY 1, 2)
      |SELECT doc_a, doc_b, shared,
      | CAST(floor(shared * 10000.0 / (na + nb - shared) + 0.5) AS BIGINT)
      |  AS jacc_e4
      |FROM pairs
      |WHERE CAST(floor(shared * 10000.0 / (na + nb - shared) + 0.5)
      |  AS BIGINT) >= 200
      |ORDER BY doc_a, doc_b""".stripMargin),
    "d11_containment" -> (oracleShingled + s""",
      |ex AS (SELECT doc_id, source, len(shingles)::BIGINT AS n,
      |        unnest(shingles) AS shingle FROM sh),
      |exk AS (SELECT * FROM (
      |  SELECT ex.*, count(*) OVER (PARTITION BY source, shingle) AS df
      |  FROM ex) WHERE df <= $DfCap),
      |pairs AS (
      | SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
      |  count(*) AS shared, max(a.n) AS na, max(b.n) AS nb
      | FROM exk a JOIN exk b ON a.shingle = b.shingle
      |  AND a.source = b.source AND a.doc_id < b.doc_id
      | GROUP BY 1, 2)
      |SELECT doc_a, doc_b, shared,
      | CAST(floor(shared * 10000.0 / least(na, nb) + 0.5) AS BIGINT)
      |  AS cont_e4
      |FROM pairs
      |WHERE CAST(floor(shared * 10000.0 / least(na, nb) + 0.5)
      |  AS BIGINT) >= 2000
      |ORDER BY doc_a, doc_b""".stripMargin),
    "d3_minhash_sig" -> (oracleMinhash + """
      |SELECT * FROM sig ORDER BY doc_id""".stripMargin),
    "d4_lsh_pairs" -> (oracleMinhash + """,
      |bands AS (
      | SELECT doc_id, 0 AS band, mh0 AS k1, mh1 AS k2 FROM sig
      | UNION ALL SELECT doc_id, 1, mh2, mh3 FROM sig
      | UNION ALL SELECT doc_id, 2, mh4, mh5 FROM sig
      | UNION ALL SELECT doc_id, 3, mh6, mh7 FROM sig)
      |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
      | count(*) AS n_shared_bands
      |FROM bands a JOIN bands b ON a.band = b.band AND a.k1 = b.k1
      | AND a.k2 = b.k2 AND a.doc_id < b.doc_id
      |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),
    "d4c_lsh_capped" -> (oracleMinhash + """,
      |bands AS (
      | SELECT doc_id, 0 AS band, mh0 AS k1, mh1 AS k2 FROM sig
      | UNION ALL SELECT doc_id, 1, mh2, mh3 FROM sig
      | UNION ALL SELECT doc_id, 2, mh4, mh5 FROM sig
      | UNION ALL SELECT doc_id, 3, mh6, mh7 FROM sig),
      |capped AS (SELECT * FROM (
      | SELECT *, row_number() OVER (PARTITION BY band, k1, k2
      |   ORDER BY doc_id) AS rn FROM bands) WHERE rn <= 4)
      |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
      | count(*) AS n_shared_bands
      |FROM capped a JOIN capped b ON a.band = b.band AND a.k1 = b.k1
      | AND a.k2 = b.k2 AND a.doc_id < b.doc_id
      |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),
    "d5_simhash_sig" -> (oracleToks + s""",
      |th AS (SELECT doc_id, ${oracleShingleHash("unnest(w)")} AS h
      |       FROM toks),
      |bits AS (SELECT doc_id, b.b AS b,
      |  CASE WHEN sum(CASE WHEN (h >> b.b) & 1 = 1 THEN 1 ELSE -1 END) > 0
      |   THEN 1::BIGINT << b.b ELSE 0 END AS bitval
      | FROM th CROSS JOIN (SELECT unnest(range(16)) AS b) b GROUP BY 1, 2)
      |SELECT doc_id, sum(bitval)::BIGINT AS simhash FROM bits
      |GROUP BY 1 ORDER BY doc_id""".stripMargin),
    "d6_simhash_pairs" -> (oracleToks + s""",
      |th AS (SELECT doc_id, source, ${oracleShingleHash("unnest(w)")} AS h
      |       FROM toks),
      |bits AS (SELECT doc_id, any_value(source) AS source, b.b AS b,
      |  CASE WHEN sum(CASE WHEN (h >> b.b) & 1 = 1 THEN 1 ELSE -1 END) > 0
      |   THEN 1::BIGINT << b.b ELSE 0 END AS bitval
      | FROM th CROSS JOIN (SELECT unnest(range(16)) AS b) b
      | GROUP BY doc_id, b.b),
      |sig AS (SELECT doc_id, any_value(source) AS source,
      |  sum(bitval)::BIGINT AS simhash FROM bits GROUP BY doc_id)
      |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
      | bit_count(xor(a.simhash, b.simhash))::BIGINT AS hamming
      |FROM sig a JOIN sig b ON a.source = b.source AND a.doc_id < b.doc_id
      |WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
      |ORDER BY doc_a, doc_b""".stripMargin),

    "d6c_simhash_capped" -> (oracleToks + s""",
      |th AS (SELECT doc_id, source, ${oracleShingleHash("unnest(w)")} AS h
      |       FROM toks),
      |bits AS (SELECT doc_id, any_value(source) AS source, b.b AS b,
      |  CASE WHEN sum(CASE WHEN (h >> b.b) & 1 = 1 THEN 1 ELSE -1 END) > 0
      |   THEN 1::BIGINT << b.b ELSE 0 END AS bitval
      | FROM th CROSS JOIN (SELECT unnest(range(16)) AS b) b
      | GROUP BY doc_id, b.b),
      |sig AS (SELECT doc_id, any_value(source) AS source,
      |  sum(bitval)::BIGINT AS simhash FROM bits GROUP BY doc_id),
      |banded AS (SELECT doc_id, source, simhash, bd.band AS band,
      |  (simhash >> (bd.band * 4)) & 15 AS bv
      | FROM sig CROSS JOIN (SELECT unnest(range(4)) AS band) bd),
      |capped AS (SELECT * FROM (
      |  SELECT *, row_number() OVER (PARTITION BY source, band, bv
      |    ORDER BY doc_id) AS rn FROM banded) WHERE rn <= 4)
      |SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
      | bit_count(xor(a.simhash, b.simhash))::BIGINT AS hamming
      |FROM capped a JOIN capped b ON a.source = b.source
      | AND a.band = b.band AND a.bv = b.bv AND a.doc_id < b.doc_id
      |WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
      |ORDER BY doc_a, doc_b""".stripMargin)
  )
}
