package graft.ttl

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** RDF triple model + deterministic Turtle serialization (the engine's
  * replacement for the reference's hand-rolled string folds — SURVEY
  * F17/K7/S10/E3, mongo-etl/utils/rdf_utils.py:10-319).
  *
  * Unlike the reference (dict-ordered iteration + manual semicolon
  * surgery, mongodb_to_rdf.py:541-546), serialization here is
  * canonical: subjects and predicates sorted, so output is byte-stable
  * for golden tests regardless of partitioning.
  */
object Turtle {

  /** One RDF triple; `o` is a pre-formatted Turtle object term
    * (IRI `<…>`, prefixed name, or literal with optional datatype). */
  case class Triple(s: String, p: String, o: String)

  /** The 9-prefix header shared by the file ETLs
    * (json-etl/geojson_to_geosparql_etl.py:86-95). */
  val PrefixHeader: String =
    """@prefix dc:   <http://purl.org/dc/terms/> .
      |@prefix exif: <http://www.w3.org/2003/12/exif/ns#> .
      |@prefix geo:  <http://www.opengis.net/ont/geosparql#> .
      |@prefix hal:  <https://halcyon.is/ns/> .
      |@prefix prov: <http://www.w3.org/ns/prov#> .
      |@prefix rdfs: <http://www.w3.org/2000/01/rdf-schema#> .
      |@prefix sno:  <http://snomed.info/id/> .
      |@prefix so:   <https://schema.org/> .
      |@prefix xsd:  <http://www.w3.org/2001/XMLSchema#> .
      |
      |""".stripMargin

  /** Turtle string-literal escaping (the reference interpolates raw —
    * a documented bug class we fix; SURVEY §7.4). */
  def escapeLiteral(c: Column): Column = {
    val esc = regexp_replace(c, "\\\\", "\\\\\\\\")
    val q = regexp_replace(esc, "\"", "\\\\\"")
    val n = regexp_replace(q, "\n", "\\\\n")
    regexp_replace(n, "\r", "\\\\r")
  }

  /** `"lit"` and `<iri>` object terms. */
  def strLit(c: Column): Column =
    concat(lit("\""), escapeLiteral(c), lit("\""))
  def iri(c: Column): Column = concat(lit("<"), c, lit(">"))

  /** Canonical Turtle text per subject: predicates `;`-chained, sorted;
    * one `Dataset[String]` row per subject block. Group-by-subject is
    * the only shuffle, keyed by `s` — at scale the subject space (one
    * per image/feature) dwarfs executor count, so this parallelizes
    * evenly; predicate lists per subject are small (no group skew). */
  def serialize(triples: Dataset[Triple]): DataFrame = {
    triples.toDF()
      .groupBy(col("s"))
      .agg(sort_array(collect_list(concat(col("p"), lit(" "), col("o"))))
        .as("po"))
      .select(col("s"), concat(col("s"), lit("\n    "),
        concat_ws(" ;\n    ", col("po")), lit(" .\n")).as("ttl"))
  }

  /** Merge graphs = union + distinct (U-RDF:303-319 analog). */
  def merge(a: Dataset[Triple], b: Dataset[Triple]): Dataset[Triple] = {
    a.union(b).distinct()
  }

  /** N-Triples line parser: splits `s p o .` on the first two RUNS of
    * whitespace (space or tab, both legal N-Triples separators)
    * OUTSIDE quoted literals (backslash-escape aware), and strips only
    * an UNQUOTED trailing statement dot — so every literal
    * `escapeLiteral` emits (embedded spaces, quotes, dots, backslashes)
    * re-reads exactly. Terms come back lexically (no prefix
    * expansion); see TurtleParser for full Turtle documents.
    *
    * None ONLY for blank and comment lines; a non-comment line that
    * does not parse into three terms THROWS — silently dropping it
    * (or splitting on a doubled space into an empty predicate) would
    * be data loss the caller cannot see. */
  def parseLine(line: String): Option[Triple] = {
    val raw = line.trim
    if (raw.isEmpty || raw.startsWith("#")) return None
    def isWs(c: Char) = c == ' ' || c == '\t'
    // a trailing `# comment` is legal N-Triples — strip the first '#'
    // that is outside quotes AND outside an IRIREF (<http://x#frag>
    // keeps its hash; so does "#" inside a literal)
    val t0 = {
      var q0 = false
      var a0 = false
      var e0 = false
      var cut = -1
      var j = 0
      while (j < raw.length && cut < 0) {
        val c = raw.charAt(j)
        if (e0) e0 = false
        else if (c == '\\') e0 = true
        else if (c == '"') q0 = !q0
        else if (!q0 && c == '<') a0 = true
        else if (!q0 && c == '>') a0 = false
        else if (!q0 && !a0 && c == '#') cut = j
        j += 1
      }
      (if (cut < 0) raw else raw.take(cut)).trim
    }
    if (t0.isEmpty) return None
    // quote state per character position
    val inQ = new Array[Boolean](t0.length)
    var q = false
    var esc = false
    var j = 0
    while (j < t0.length) {
      val c = t0.charAt(j)
      if (esc) esc = false
      else if (c == '\\') esc = true
      else if (c == '"') q = !q
      inQ(j) = q
      j += 1
    }
    var t = t0
    if (t.endsWith(".") && !inQ(t.length - 1)) {
      t = t.dropRight(1)
      // the dot's left padding (t is a prefix of t0, so inQ indexes
      // stay valid)
      while (t.nonEmpty && isWs(t.charAt(t.length - 1)) &&
        !inQ(t.length - 1)) t = t.dropRight(1)
    }
    // term boundaries: [0,i1) ws [j1,i2) ws [j2,end)
    var i1 = -1; var j1 = -1
    var i2 = -1; var j2 = -1
    var k = 0
    while (k < t.length && i2 < 0) {
      if (isWs(t.charAt(k)) && !inQ(k)) {
        val start = k
        while (k < t.length && isWs(t.charAt(k)) && !inQ(k)) k += 1
        if (i1 < 0) { i1 = start; j1 = k } else { i2 = start; j2 = k }
      } else k += 1
    }
    if (i1 < 0 || i2 < 0 || j2 >= t.length)
      throw new IllegalArgumentException(
        s"malformed N-Triples line (need `s p o .`): «$line»")
    Some(Triple(
      ntCanonTerm(t.substring(0, i1), 0, line),
      ntCanonTerm(t.substring(j1, i2), 1, line),
      ntCanonTerm(t.substring(j2), 2, line)))
  }

  /** Validate + canonicalize one N-Triples term — strict W3C grammar
    * (term kind per position, IRI char set + UCHAR decode, ECHAR-only
    * string escapes, LANGTAG shape) plus ONE engine-internal leniency:
    * bare numeric/boolean OBJECT tokens, the engine's canonical
    * spelling for those datatypes (pre-r19 serializeNTriples emitted
    * them raw; current output is strict NT, but stored older output
    * must stay readable). Shares canonTyped with the Turtle, RDF/XML
    * and JSON-LD readers so all four formats emit identical terms.
    * `pos`: 0 subject, 1 predicate, 2 object, 3 datatype IRI. */
  private def ntCanonTerm(term: String, pos: Int, line: String): String = {
    def bad(msg: String): Nothing = throw new IllegalArgumentException(
      s"$msg in N-Triples line «$line»")
    if (term.startsWith("<")) {
      if (!term.endsWith(">") || term.length < 2)
        bad(s"unterminated IRI $term")
      val body = term.substring(1, term.length - 1)
      // fast path: no escapes, no forbidden chars → keep as-is
      var k = 0
      var dirty = false
      while (k < body.length && !dirty) {
        if (body.charAt(k) == '\\' || TurtleParser.badIriChar(body.charAt(k)))
          dirty = true
        k += 1
      }
      if (!dirty) term
      else {
        val dec = new StringBuilder
        var i = 0
        while (i < body.length) {
          val c = body.charAt(i)
          if (c == '\\') {
            val e = if (i + 1 < body.length) body.charAt(i + 1) else '\u0000'
            if (e == 'u') {
              dec.appendAll(Character.toChars(
                TurtleParser.hexEscapeAt(body, i + 2, 4))); i += 6
            } else if (e == 'U') {
              dec.appendAll(Character.toChars(
                TurtleParser.hexEscapeAt(body, i + 2, 8))); i += 10
            } else bad(s"invalid escape '\\$e' in IRI (only \\u/\\U)")
          } else if (TurtleParser.badIriChar(c)) {
            bad(s"character 0x${c.toInt.toHexString} not allowed raw " +
              s"in IRI $term")
          } else { dec.append(c); i += 1 }
        }
        s"<$dec>"
      }
    } else if (term.startsWith("_:")) {
      if (pos == 1 || pos == 3) bad("blank node not allowed as " +
        (if (pos == 1) "predicate" else "datatype"))
      if (term.length == 2) bad("empty blank-node label")
      term
    } else if (term.startsWith("\"")) {
      if (pos != 2) bad("literal only allowed in object position")
      var i = 1
      var close = -1
      while (i < term.length && close < 0) {
        val c = term.charAt(i)
        if (c == '\\') i += 2
        else if (c == '"') close = i
        else i += 1
      }
      if (close < 0) bad(s"unterminated literal $term")
      val lex = TurtleParser.unescape(term.substring(1, close))
      val canon = "\"" + TurtleParser.escape(lex) + "\""
      val rest = term.substring(close + 1)
      if (rest.isEmpty) canon
      else if (rest.startsWith("@")) {
        if (!TurtleParser.validLangTag(rest.drop(1)))
          bad(s"malformed language tag '$rest'")
        canon + rest
      } else if (rest.startsWith("^^<")) {
        TurtleParser.canonTyped(lex, ntCanonTerm(rest.drop(2), 3, line))
      } else bad(s"malformed literal suffix '$rest'")
    } else if (pos == 2 && TurtleParser.isBareToken(term)) {
      term // engine-canonical bare spelling, already validated
    } else bad(s"malformed term '$term'" + (if (term.contains(":"))
      " (prefixed names are Turtle, not N-Triples)" else ""))
  }

  /** NT-valid spelling of a stored canonical term: bare tokens become
    * quoted-typed literals (NT has no bare-token syntax), IRI bodies
    * re-escape any raw-forbidden chars (a canonical IRI carries the
    * DECODED codepoints of any \\u escapes it was read with). */
  private[ttl] def ntTermOut(term: String): String =
    if (term.startsWith("<")) ntIriOut(term)
    else if (term.startsWith("_:")) term
    else if (term.startsWith("\"")) literalOut(term)
    else if (TurtleParser.isBareToken(term))
      // canonical bare token — expand to the quoted-typed form
      "\"" + term + "\"^^" + TurtleParser.bareTokenDatatype(term)
    else nonCanonical(term)

  /** Turtle spelling of a stored canonical term: like [[ntTermOut]]
    * but bare tokens stay bare (legal Turtle). IRIs still re-escape
    * UCHAR-decoded forbidden codepoints — Turtle IRIREFs admit the
    * same \\uXXXX escapes as N-Triples. */
  private[ttl] def turtleTermOut(term: String): String =
    if (term.startsWith("<")) ntIriOut(term)
    else if (term.startsWith("_:")) term
    else if (term.startsWith("\"")) literalOut(term)
    else if (TurtleParser.isBareToken(term)) term
    else nonCanonical(term)

  private def nonCanonical(term: String): Nothing =
    // quietly literalizing junk would be silent data corruption
    throw new IllegalArgumentException(
      s"non-canonical RDF term '$term' (canonical terms are <iri>, " +
        "_:label, \"literal\"[@lang|^^<dt>], or a bare token)")

  private def literalOut(term: String): String = {
    // escape-aware scan to the closing quote, then re-encode a
    // ^^<dt> suffix's IRI (a BODY may itself contain `^^<`)
    var i = 1
    var close = -1
    while (i < term.length && close < 0) {
      val c = term.charAt(i)
      if (c == '\\') i += 2
      else if (c == '"') close = i
      else i += 1
    }
    if (close < 0) nonCanonical(term) // unterminated literal: LOUD,
    // like every other malformed term — passing it through would be
    // the silent-corruption mode the else branch exists to prevent
    val rest = term.substring(close + 1)
    if (rest.startsWith("^^<"))
      term.take(close + 3) + ntIriOut(rest.drop(2))
    else term
  }

  private def ntIriOut(term: String): String = {
    val body = term.substring(1, term.length - 1)
    if (!body.exists(TurtleParser.badIriChar)) term
    else {
      val b = new StringBuilder("<")
      body.foreach { c =>
        if (TurtleParser.badIriChar(c)) b.append(f"\\u${c.toInt}%04X")
        else b.append(c)
      }
      b.append('>').toString
    }
  }

  /** N-Triples serialization: one `s p o .` line per triple — the
    * SCALE format (line-splittable, any-size files), vs. the grouped
    * block layout of `serialize` (prettier, but blocks span lines). */
  def serializeNTriples(triples: Dataset[Triple]): Dataset[String] = {
    import triples.sparkSession.implicits._
    triples.map(t =>
      s"${ntTermOut(t.s)} ${ntTermOut(t.p)} ${ntTermOut(t.o)} .")
  }

  /** Line-based N-Triples load: fully splittable (no wholetext), the
    * 100 TB-safe reader. Delegates to Rdf.load so blank nodes are
    * document-scoped here too — the two public nt entry points must
    * not disagree on whether `_:b0` of two files is one node. */
  def readNTriples(spark: SparkSession, path: String): Dataset[Triple] =
    Rdf.load(spark, path, "nt")

  /** S10 (U-RDF:285-300 analog): graph load for the grouped BLOCK
    * layout `serialize` emits (`subject\n  p o ;\n  p o .`): blocks
    * span lines, so files are read wholetext — one task per file,
    * whole file in memory. Fine for the block layout's intended use
    * (per-subject documents); for arbitrarily large graph files use
    * serializeNTriples/readNTriples, which split freely. Comment and
    * @prefix lines are skipped. */
  def read(spark: SparkSession, path: String): Dataset[Triple] = {
    import spark.implicits._
    spark.read.option("wholetext", true).text(path)
      .as[String]
      .flatMap { content =>
        var subject: String = null
        content.linesIterator.flatMap { raw =>
          val line = raw.trim
          if (line.isEmpty || line.startsWith("#") ||
            line.startsWith("@prefix")) Iterator.empty
          else {
            val t = line.stripSuffix(".").stripSuffix(";").trim
            val isContinuation = raw.startsWith(" ") ||
              raw.startsWith("\t")
            if (isContinuation && subject != null) {
              val i = t.indexOf(' ')
              if (i < 0) Iterator.empty
              else Iterator.single(
                Triple(subject, t.substring(0, i), t.substring(i + 1)))
            } else {
              val i1 = t.indexOf(' ')
              if (i1 < 0) { subject = t; Iterator.empty }
              else {
                val i2 = t.indexOf(' ', i1 + 1)
                subject = t.substring(0, i1)
                if (i2 < 0) Iterator.empty
                else Iterator.single(Triple(subject,
                  t.substring(i1 + 1, i2), t.substring(i2 + 1)))
              }
            }
          }
        }
      }
  }
}
